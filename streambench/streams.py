"""The two stream workloads.

``gnn_stream``: edge events -> ``streaming.gnn.windowed_sage`` (per-year
windowed 64-wide neighbour mean, then the Arrow-batched SAGE forward).
``graphop_stream``: GraphOp mutations -> ``streaming.stateful.latest_state``
(last-writer-wins keyed state in the state store).

Each runs in two phases, both into a ``foreachBatch`` parquet sink in
update mode:

* phase A, latency: the open-loop generator writes files at a fixed rate
  while the query runs with back-to-back triggers; each file's latency is
  its due time to the sink commit of the trigger that read it;
* phase B, throughput: a backlog written beforehand is drained with
  ``Trigger.AvailableNow``; events per wall second of the drain.

After both phases, untimed, each phase's final state is read back from the
sink and compared with DuckDB over the same input files.
"""

from __future__ import annotations

import glob
import os
import time
from dataclasses import dataclass

import datagen
from engine import log, micro_batch_python
from generator import OpenLoopGenerator
from stats import FileLatency, LedgerEntry, Outcome, Trigger, map_latencies


@dataclass(frozen=True)
class StreamSpec:
    name: str
    rate: float  # phase A events per second, fixed
    period_s: float  # phase A: one file per period
    backlog_rows_per_file: int
    backlog_rate_hint: float  # sizes the phase B backlog; not a measurement
    files_per_trigger: int  # phase B trigger size


# Untimed warm-up at the fixed rate: a latency phase counts the files due
# after its WARM_TRIGGERS-th trigger committed (or after MAX_WARM_S). On a
# fresh engine (4-core VM, gnn_stream at 20,000 events/s) triggers took
# 1.9-2.2 s for the first six, 1.3-1.4 s from the eighth on: the JVM
# compiles the per-trigger code by how often it runs, so the warm-up is
# counted in triggers, and a slow host does not start measuring on a
# colder engine. Seven is what the run budget (48 runs of both workloads in
# under an hour) affords.
WARM_TRIGGERS = 7
MAX_WARM_S = 25.0
# phase B drains at least this many whole triggers
MIN_BACKLOG_TRIGGERS = 3

# gnn_stream's rate, from a sweep on a 4-core VM (one engine, 6.5 s per
# rate after 6 s at the rate): p50 latency stayed at 1.9-2.3 s from 5,000
# to 80,000 events/s, with the same files in flight (22-28) and the
# generator at most 17 ms late, because a trigger costs about the same
# for 6,000 or 100,000 rows; a warm backlog drained at 90,000 events/s.
# 20,000 events/s sits on that flat stretch at about a quarter of the
# drain rate, so a host at half that speed still keeps up. The generator
# writes that rate as ten 2,000-row files a second. With 1,200-row files
# every 60 ms, warm triggers took 1.3-2.1 s and drifted by a quarter between
# 10 s windows of one 40 s run, and p50 latency spread 0.20 (IQR/median,
# five seeds); with 2,000-row files it spread 0.08, and 10 s at the rate
# still give the 100 files that latency_p90_ms needs.
GNN = StreamSpec(
    name="gnn_stream",
    rate=20_000.0,
    period_s=0.1,
    backlog_rows_per_file=25_000,
    backlog_rate_hint=50_000.0,
    files_per_trigger=6,
)
# graphop_stream's backlog drained at about 640 events/s on the same VM
# (Python keyed state); 400 events/s is about 60% of that. Not swept.
GRAPHOP = StreamSpec(
    name="graphop_stream",
    rate=400.0,
    period_s=0.08,
    backlog_rows_per_file=1_000,
    backlog_rate_hint=1_000.0,
    files_per_trigger=2,
)
SPECS = {s.name: s for s in (GNN, GRAPHOP)}


@dataclass
class PhaseResult:
    name: str
    source_dir: str
    sink_dir: str
    events: int
    wall_s: float
    triggers: list[Trigger]
    progress: list[dict]
    build_s: float
    commits: list[tuple[int, float, float]]  # measured: (batch id, sink start, sink end)
    batches: int  # every micro-batch the query committed, warm-up included
    ledger: list[LedgerEntry] | None = None
    latencies: list[FileLatency] | None = None
    late_ms_max: float = 0.0


class StreamWorkload:
    def __init__(self, spec: StreamSpec, spark, seed: int, work_dir: str) -> None:
        self.spec = spec
        self.spark = spark
        self.seed = seed
        self.work = work_dir
        self.data_dir = os.path.join(work_dir, "data")
        self.emb_path = None
        if spec is GNN:
            self.emb_path = datagen.write_embeddings(seed, self.data_dir)
            self.gen = datagen.EdgeStream(seed)
        else:
            self.gen = datagen.GraphOpStream(seed)
        self._phase_no = 0
        # traced run only: Python exec-node totals over every micro-batch
        self.python: dict[str, float] | None = None

    # ------------------------------------------------------------ pipeline

    def _pipeline(self, source_dir: str, files_per_trigger: int | None):
        from pyspark.sql import functions as F

        reader = self.spark.readStream.schema(self.gen.schema)
        if files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", files_per_trigger)
        stream = reader.parquet(source_dir)
        if self.spec is GNN:
            import flink_streaming_gnn_spark.sources.tables as tables
            from flink_streaming_gnn_spark.streaming.gnn import windowed_sage

            features = tables.load_table(self.spark, self.data_dir, "embeddings").select(
                "vec_id", F.col("embedding").alias("feat")
            )
            return windowed_sage(stream, features)
        from flink_streaming_gnn_spark.streaming.stateful import latest_state

        return latest_state(stream, "vertex", "seq")

    def _start(self, phase: str, source_dir: str, files_per_trigger, trigger: dict):
        """Build the pipeline and start it into a fresh sink and checkpoint.
        Returns (query, sink dir, commit records, build seconds)."""
        from pyspark.sql import functions as F

        base = os.path.join(self.work, phase)
        sink_dir = os.path.join(base, "sink")
        commits: list[tuple[int, float, float]] = []
        started: dict = {}

        def sink(batch_df, batch_id):
            t0 = time.time()
            batch_df.withColumn("_batch", F.lit(batch_id)).write.mode("append").parquet(sink_dir)
            commits.append((batch_id, t0, time.time()))
            if self.python is not None and "query" in started:
                for k, v in micro_batch_python(started["query"]._jsq).items():
                    self.python[k] += v

        t0 = time.time()
        plan = self._pipeline(source_dir, files_per_trigger)
        build_s = time.time() - t0
        query = (
            plan.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", os.path.join(base, "checkpoint"))
            .trigger(**trigger)
            .start()
        )
        started["query"] = query
        return query, sink_dir, commits, build_s

    @staticmethod
    def _progress(query) -> list[dict]:
        import json

        return [json.loads(p.json) for p in query.recentProgress]

    @staticmethod
    def _triggers(progress: list[dict], commits, skip=frozenset()) -> list[Trigger]:
        from datetime import datetime

        done = {b: (s, e) for b, s, e in commits}
        out = []
        for p in progress:
            if p["batchId"] in skip or (p["numInputRows"] == 0 and p["batchId"] not in done):
                continue
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            s, e = done[p["batchId"]]
            out.append(Trigger(batch_id=p["batchId"], rows=p["numInputRows"], start=start, commit=e))
        return out

    def _next_phase(self, label: str) -> str:
        self._phase_no += 1
        return f"{label}{self._phase_no}"

    # ------------------------------------------------------------ phases

    def latency_phase(self, seconds: float) -> PhaseResult:
        """Fixed-rate phase. Untimed first: one full-size file through the
        fresh query (code generation, Python workers, state store), then
        ``WARM_TRIGGERS`` triggers at the fixed rate. Only files due in the
        ``seconds`` after that count; the warm-up rows stay in the state and
        in the reference check."""
        spec = self.spec
        phase = self._next_phase("latency")
        base = os.path.join(self.work, phase)
        src, staging = os.path.join(base, "source"), os.path.join(base, "staging")
        os.makedirs(src)
        query, sink_dir, commits, build_s = self._start(phase, src, None, {"processingTime": "0 seconds"})
        datagen.write_chunks(self.gen.chunks(1, spec.backlog_rows_per_file), staging)
        os.rename(os.path.join(staging, "part-000000.parquet"), os.path.join(src, "warmup.parquet"))
        query.processAllAvailable()
        first = {b for b, _, _ in commits}
        rows = int(round(spec.rate * spec.period_s))
        n_max = int((MAX_WARM_S + seconds) / spec.period_s)
        gen = OpenLoopGenerator(self.gen.chunks(n_max, rows), spec.period_s, src, staging)
        gen.start()
        deadline = time.time() + MAX_WARM_S
        while len(commits) < len(first) + WARM_TRIGGERS and time.time() < deadline:
            time.sleep(0.01)
        t_measure = time.time()
        gen.stop_at = t_measure + seconds
        ledger = gen.join(timeout=MAX_WARM_S + seconds * 4 + 30)
        t_end = time.time()
        query.processAllAvailable()
        query.stop()
        files = map_latencies(ledger, self._triggers(self._progress(query), commits, skip=first))
        measured = [f for f in files if f.due >= t_measure]
        batches = {f.batch_id for f in measured}
        progress = [p for p in self._progress(query) if p["batchId"] in batches]
        return PhaseResult(
            name=phase,
            source_dir=src,
            sink_dir=sink_dir,
            events=len(measured) * rows,
            wall_s=time.time() - t_end + seconds,
            triggers=self._triggers(progress, commits),
            progress=progress,
            build_s=build_s,
            commits=[c for c in commits if c[0] in batches],
            batches=len(commits),
            ledger=[e for e in ledger if e.due >= t_measure],
            latencies=measured,
            late_ms_max=gen.late_ms_max,
        )

    def backlog_phase(self, seconds: float, src: str | None = None) -> PhaseResult:
        """Drain a backlog of whole triggers, at least
        ``MIN_BACKLOG_TRIGGERS``, sized to about
        ``seconds`` at the spec's rate hint. ``src`` re-drains an existing
        backlog (the single-core baseline)."""
        spec = self.spec
        phase = self._next_phase("backlog")
        if src is None:
            # whole triggers, so every run drains equal-sized ones
            per_trigger = spec.backlog_rows_per_file * spec.files_per_trigger
            triggers = max(MIN_BACKLOG_TRIGGERS, round(seconds * spec.backlog_rate_hint / per_trigger))
            n_files = spec.files_per_trigger * triggers
            src = os.path.join(self.work, phase, "source")
            datagen.write_chunks(self.gen.chunks(n_files, spec.backlog_rows_per_file), src)
        events = spec.backlog_rows_per_file * len(glob.glob(os.path.join(src, "*.parquet")))
        t0 = time.time()
        query, sink_dir, commits, build_s = self._start(
            phase, src, spec.files_per_trigger, {"availableNow": True}
        )
        query.awaitTermination()
        wall = time.time() - t0
        progress = self._progress(query)
        return PhaseResult(
            name=phase,
            source_dir=src,
            sink_dir=sink_dir,
            events=events,
            wall_s=wall,
            triggers=self._triggers(progress, commits),
            progress=progress,
            build_s=build_s,
            commits=commits,
            batches=len(commits),
        )

    # ------------------------------------------------------------ checking

    def check(self, phase: PhaseResult, outcome: Outcome) -> None:
        """Compare the phase's final state with DuckDB; count every
        micro-batch committed and those whose emitted rows disagree."""
        import oracle

        attempted = max(1, phase.batches)
        try:
            if self.spec is GNN:
                bad = oracle.check_gnn(phase.source_dir, self.emb_path, phase.sink_dir)
            else:
                bad = oracle.check_graphop(phase.source_dir, phase.sink_dir)
        except Exception as exc:  # a failed check is a failed phase, reported
            log(f"{phase.name}: reference check raised {exc!r}")
            outcome.add(attempted, attempted, f"{phase.name}: check raised {exc!r}")
            return
        failed = len(bad.batches)
        if bad.problems:
            failed = max(1, min(attempted, failed))
        outcome.add(attempted, failed, "; ".join(bad.problems) if bad.problems else None)
