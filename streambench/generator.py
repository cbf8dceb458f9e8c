"""Open-loop input generator for the stream workloads.

One thread writes pre-built chunks as parquet files on a wall-clock
schedule: chunk ``i`` is due at ``start + i * period`` whatever the engine
is doing, so a slow engine builds a backlog instead of slowing the input.
Each file is written to a staging directory and renamed into the source
directory, so the file source never lists a partial file. A ledger records
each file's due time, the time it became visible and its row count.
"""

from __future__ import annotations

import math
import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from stats import LedgerEntry

# A run whose generator fell further behind its schedule than this is
# invalid: its latencies would describe a lighter load than the stated rate.
LATE_LIMIT_MS = 250.0


class OpenLoopGenerator:
    def __init__(
        self,
        chunks: list[pa.Table],
        period_s: float,
        source_dir: str,
        staging_dir: str,
        clock=time.time,
        sleep=time.sleep,
    ) -> None:
        self.chunks = chunks
        self.period_s = period_s
        self.source_dir = source_dir
        self.staging_dir = staging_dir
        self.clock = clock
        self.sleep = sleep
        self.ledger: list[LedgerEntry] = []
        # no file due at or after this time is written; set while running
        self.stop_at = math.inf
        self._error: BaseException | None = None
        self._thread = threading.Thread(target=self._run, name="open-loop-generator", daemon=True)
        os.makedirs(source_dir, exist_ok=True)
        os.makedirs(staging_dir, exist_ok=True)

    def start(self) -> "OpenLoopGenerator":
        self.start_at = self.clock()
        self._thread.start()
        return self

    def _run(self) -> None:
        try:
            for i, chunk in enumerate(self.chunks):
                due = self.start_at + i * self.period_s
                if due >= self.stop_at:
                    break
                delay = due - self.clock()
                if delay > 0:
                    self.sleep(delay)
                name = f"part-{i:06d}.parquet"
                staged = os.path.join(self.staging_dir, name)
                pq.write_table(chunk, staged)
                os.rename(staged, os.path.join(self.source_dir, name))
                self.ledger.append(LedgerEntry(due=due, created=self.clock(), rows=chunk.num_rows))
        except BaseException as exc:  # re-raised in join() on the caller's thread
            self._error = exc

    def join(self, timeout: float | None = None) -> list[LedgerEntry]:
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise TimeoutError("generator did not finish its schedule")
        if self._error is not None:
            raise self._error
        return self.ledger

    @property
    def late_ms_max(self) -> float:
        return late_ms_max(self.ledger)


def late_ms_max(ledger: list[LedgerEntry]) -> float:
    """How far behind schedule the latest file became visible, in ms."""
    return max((1000.0 * (e.created - e.due) for e in ledger), default=0.0)
