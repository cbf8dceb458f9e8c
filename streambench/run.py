#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one command.

    python3 streambench/run.py --workload gnn_stream --seed 1 --seconds 10 --trace 0

Workloads: ``gnn_stream``, ``graphop_stream`` (open-loop streams, see
streams.py) and ``olap_mix`` (closed-loop batch mix, see olap.py). Every
input is generated inside ``.bench_work/`` of the checkout and removed at
exit: ``--seed`` draws the streams, lays out the fixed batch corpus and
orders the passes. The engine is driven only through its public entry
points, with settings fitted to the machine (cores, heap under physical
memory, no console progress bars).

stdout carries metric lines (``name value unit``) and, last, one JSON
object: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``. A traced run also writes its spans to
``.bench_out/trace-<workload>-<seed>.json``. The exit code is 0 only when
every output matched DuckDB and, for streams, the generator kept its
schedule.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import engine  # noqa: E402
import layers  # noqa: E402
from engine import log  # noqa: E402
from stats import Outcome, exit_code, median, tail  # noqa: E402

WORKLOADS = ("gnn_stream", "graphop_stream", "olap_mix")
# a stream run measures latency at the fixed rate for --seconds, then drains
# a backlog sized to this share of --seconds at the spec's rate hint (at
# least streams.MIN_BACKLOG_TRIGGERS whole triggers)
BACKLOG_SHARE = 0.2
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_ms": "ms",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


@contextmanager
def _no_span(name, **attrs):
    yield attrs


# ---------------------------------------------------------------- set-up


def shutdown(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every process
    the engine started to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in engine.descendants():
        try:
            os.kill(pid, 15)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while engine.descendants() and time.time() < deadline:
        time.sleep(0.1)


# ---------------------------------------------------------------- workloads


def run_olap(ctx) -> dict:
    import datagen
    from olap import HEADLINE, WARMUP_SCALE, OlapMix

    corpus = os.path.join(ctx.work, "corpus")
    scans = datagen.write_corpus(ctx.seed, corpus)
    small = os.path.join(ctx.work, "warmup-corpus")
    datagen.write_corpus(ctx.seed, small, scale=WARMUP_SCALE)
    mix = OlapMix(ctx.spark, ctx.seed, corpus, scans)
    ctx.mark("corpus written")
    mix.warmup(small)
    ctx.mark("warmup and result passes done")
    tracer = ctx.tracer
    span = tracer.span if tracer else _no_span
    before_pass = None
    if tracer:
        since, gc0 = engine.high_water(ctx.spark), engine.jvm_gc(ctx.spark)

        def before_pass(n):
            # traced and untraced passes alternate, so JIT warm-up and host
            # drift fall on both alike
            tracer.enabled = n % 2 == 0

    with span("run", workload="olap_mix"):
        measured = mix.measure(ctx.seconds * (2 if tracer else 1), span, before_pass)
    rss = engine.peak_rss_mb()
    ctx.mark(f"{measured['queries']} queries timed")
    per_key = {k: v for k, v in measured["latencies"].items() if v}
    # typical query latency: geometric mean over keys of each key's median
    typical = math.exp(statistics.fmean(math.log(median(v)) for v in per_key.values()))
    throughput = measured["queries"] / measured["wall_s"]
    per_layer = None
    if tracer:
        tracer.enabled = False
        traced_s, untraced_s = measured["pass_s"][0::2], measured["pass_s"][1::2]
        per_layer = _batch_layers(ctx, measured, since, gc0)
        if untraced_s:
            traced_rate = len(traced_s) / sum(traced_s)
            untraced_rate = len(untraced_s) / sum(untraced_s)
            per_layer["trace.overhead_share"] = (untraced_rate - traced_rate) / untraced_rate
    outcome = Outcome()
    mix.check(measured, outcome)
    ctx.mark("reference check done")
    return {
        "e2e": {"throughput_per_s": throughput, "latency_ms": 1000.0 * typical, "peak_rss_mb": rss},
        "alias": ("queries_per_s", "queries/s"),
        "latency_name": "latency_geomean_ms",
        "latencies_ms": [1000.0 * x for v in per_key.values() for x in v],
        "outcome": outcome,
        "valid": True,
        "notes": {
            "passes": len(measured["pass_s"]),
            "pass_s": " ".join(f"{x:.2f}" for x in measured["pass_s"]),
        },
        "layers": per_layer,
    }


def _batch_layers(ctx, measured, since, gc0) -> dict:
    """Spark's counters cover every timed pass; the benchmark's own spans
    and counts only the traced (even) ones."""
    from olap import HEADLINE

    tracer = ctx.tracer
    out = layers.empty()
    out.update(_common_layers(ctx, since, gc0, measured["wall_s"]))
    build, exec_ = tracer.total("query.build"), tracer.total("query.exec")
    out["query.build_s"], out["query.exec_s"] = build, exec_
    out["query.build_share"] = build / (build + exec_) if build + exec_ else 0.0
    for key in HEADLINE:
        times = [s["end"] - s["start"] for s in tracer.spans if s["name"] == "query.exec" and s.get("key") == key]
        out[f"query.{key}.exec_s"] = median(times) if times else 0.0
    return out


def _common_layers(ctx, since, gc0, wall_s) -> dict:
    tracer, spark = ctx.tracer, ctx.spark
    out = {"session.start_s": ctx.setup_main}
    gc1 = engine.jvm_gc(spark)
    out["jvm.gc_s"] = gc1["gc_s"] - gc0["gc_s"]
    out["jvm.gc_count"] = gc1["gc_count"] - gc0["gc_count"]
    out["jvm.heap_after_gc_mb"] = gc1["heap_after_gc_mb"]
    c = tracer.counts
    calls = c.get("sources.load_table_calls", 0.0)
    out["sources.load_table_calls"] = calls
    out["sources.load_table_s"] = tracer.total("sources.load_table")
    out["sources.memo_hit_ratio"] = c.get("sources.memo_hits", 0.0) / calls if calls else 0.0
    bcalls = c.get("plans.maybe_broadcast_calls", 0.0)
    out["plans.maybe_broadcast_calls"] = bcalls
    out["plans.plan_size_s"] = tracer.total("plans.plan_size_bytes")
    out["plans.broadcast_hint_ratio"] = c.get("plans.broadcast_hints", 0.0) / bcalls if bcalls else 0.0
    counters = engine.exec_counters(spark, since, wall_s)
    for k, v in counters.items():
        if k.startswith("python_"):
            out["python." + k[len("python_"):]] = v
        else:
            out["exec." + k] = v
    return out


def run_stream(ctx) -> dict:
    import oracle
    from generator import LATE_LIMIT_MS
    from streams import SPECS, StreamWorkload

    spec = SPECS[ctx.workload]
    wl = StreamWorkload(spec, ctx.spark, ctx.seed, ctx.work)
    tracer = ctx.tracer
    span = tracer.span if tracer else _no_span
    a_s, b_s = ctx.seconds, BACKLOG_SHARE * ctx.seconds
    if tracer:
        tracer.enabled = True
        since, gc0 = engine.high_water(ctx.spark), engine.jvm_gc(ctx.spark)
        wl.python = dict.fromkeys(["python_rows_sent", "python_mb_sent", "python_mb_received", "python_exec_s"], 0.0)
    listened: list[list[dict]] = []
    untraced_b: list = []
    t0 = time.time()
    with span("run", workload=spec.name):
        with span("phase", phase="latency"), _listening(ctx, listened):
            a = wl.latency_phase(a_s)
        ctx.mark("latency phase done")
        if tracer:
            # tracing overhead: untraced drains right before and right
            # after the traced one, so warm-up and host drift cancel
            untraced_b.append(_untraced(ctx, wl, lambda: wl.backlog_phase(b_s)))
        with span("phase", phase="backlog"), _listening(ctx, listened):
            b = wl.backlog_phase(b_s)
        if tracer:
            untraced_b.append(_untraced(ctx, wl, lambda: wl.backlog_phase(b_s)))
    wall = time.time() - t0
    rss = engine.peak_rss_mb()
    ctx.mark("latency and backlog phases done")
    phases = [a, b]
    lat = [f.latency_s for f in a.latencies]
    result = {
        "e2e": {
            "throughput_per_s": b.events / b.wall_s,
            "latency_ms": 1000.0 * median(lat),
            "peak_rss_mb": rss,
        },
        "alias": ("events_per_s", "events/s"),
        "latency_name": "latency_p50_ms",
        "latencies_ms": [1000.0 * x for x in lat],
        "valid": a.late_ms_max <= LATE_LIMIT_MS,
        "notes": {
            "generator.late_ms_max": a.late_ms_max,
            "phase_a_rate": spec.rate,
            "phase_a_trigger_s": " ".join(f"{t.commit - t.start:.2f}" for t in a.triggers),
            "phase_b_events": b.events,
        },
    }
    if tracer:
        for phase, parent in zip((a, b), [s["id"] for s in tracer.spans if s["name"] == "phase"]):
            _trigger_spans(tracer, phase, parent)
        out = layers.empty()
        out.update(_common_layers(ctx, since, gc0, wall))
        out.update(layers.streaming_metrics(a.progress + b.progress))
        out.update(layers.listener_metrics(listened, [a.triggers, b.triggers]))
        for k, v in wl.python.items():
            out["python." + k[len("python_"):]] += v
        wl.python = None
        out["query.build_s"] = a.build_s + b.build_s
        out["query.exec_s"] = a.wall_s + b.wall_s
        out["query.build_share"] = out["query.build_s"] / (out["query.build_s"] + out["query.exec_s"])
        out["streaming.queue_wait_ms_p50"] = 1000.0 * median([f.queue_wait_s for f in a.latencies])
        out["sink.write_ms_p50"] = 1000.0 * median([e - s for p in phases for _, s, e in p.commits])
        con = oracle.connect()
        out["sink.rows"] = sum(
            con.execute(f"SELECT count(*) FROM read_parquet('{p.sink_dir}/*.parquet')").fetchone()[0]
            for p in phases
        )
        out["generator.late_ms_max"] = a.late_ms_max
        out["generator.files"] = len(a.ledger)
        out["source.lag_files_max"] = layers.lag_files_max(a.latencies, a.triggers)
        # Spark's counters above cover the untraced drains as well; the
        # benchmark's spans and Python readings only the traced phases
        tracer.enabled = False
        phases += untraced_b
        untraced = statistics.fmean(p.events / p.wall_s for p in untraced_b)
        out["trace.overhead_share"] = (untraced - result["e2e"]["throughput_per_s"]) / untraced
        if spec.name == "gnn_stream":
            # single-core baseline: the same backlog drained on local[1]
            ctx.spark.stop()
            wl.spark = ctx.spark = engine.start_session(ctx.work, n_cpus=1)
            b1 = wl.backlog_phase(b_s, src=b.source_dir)
            phases.append(b1)
            out["streaming.scaling_vs_1core"] = untraced / (b1.events / b1.wall_s)
        result["layers"] = out
    outcome = Outcome()
    for p in phases:
        wl.check(p, outcome)
    ctx.mark("reference check done")
    result["outcome"] = outcome
    return result


def _untraced(ctx, wl, phase):
    """Run ``phase`` with tracing and Python exec-node readings off."""
    tracer, python = ctx.tracer, wl.python
    tracer.enabled, wl.python = False, None
    try:
        return phase()
    finally:
        tracer.enabled, wl.python = True, python


@contextmanager
def _listening(ctx, into: list):
    """In the traced run, record the block's progress events with the
    engine's ``recorded_progress`` listener and append them to ``into``."""
    if ctx.tracer is None:
        yield
        return
    from flink_streaming_gnn_spark.streaming.metrics import recorded_progress

    with recorded_progress(ctx.spark) as rec:
        yield
        engine.drain_listener_bus(ctx.spark)
    into.append(rec.batches)


def _trigger_spans(tracer, phase, parent) -> None:
    """Spans for each trigger and its parts, from the progress events: the
    parts are laid end to end in execution order from the trigger start;
    the sink write (measured) sits under addBatch."""
    sink = {b: (s, e) for b, s, e in phase.commits}
    progress = {p["batchId"]: p for p in phase.progress}
    for t in phase.triggers:
        dur = progress[t.batch_id]["durationMs"]
        tid = tracer.add("trigger", t.start, t.start + dur.get("triggerExecution", 0) / 1000.0,
                         parent, batch=t.batch_id, rows=t.rows)
        cursor = t.start
        for part in layers.PART_ORDER:
            ms = dur.get(part, 0)
            pid = tracer.add(f"trigger.{part}", cursor, cursor + ms / 1000.0, tid)
            if part == "addBatch" and t.batch_id in sink:
                s, e = sink[t.batch_id]
                tracer.add("sink.write", s, e, pid, batch=t.batch_id)
            cursor += ms / 1000.0


# ---------------------------------------------------------------- main


class Context:
    def __init__(self, args, work, spark, tracer, setup_main):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.spark = spark
        self.tracer = tracer
        self.setup_main = setup_main
        self.t_start = time.time() - setup_main

    def mark(self, what: str) -> None:
        log(f"[{time.time() - self.t_start:7.2f}s] {what}")


def _fmt(v: float) -> str:
    return repr(float(v))


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = engine.process_start_time()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    engine.configure_env(work)
    try:
        import flink_streaming_gnn_spark  # noqa: F401
    except ImportError as exc:
        log(f"the engine package is not importable from {ROOT}: {exc}")
        shutil.rmtree(work, ignore_errors=True)
        os.rmdir(os.path.dirname(work))
        return 2
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        tracer.install()
        tracer.enabled = False  # on for the measured phases only
    spark = None
    try:
        spark = engine.start_session(work)
        setup_main = time.time() - t_start
        info = engine.versions(spark)
        ctx = Context(args, work, spark, tracer, setup_main)
        run = run_olap if args.workload == "olap_mix" else run_stream
        result = run(ctx)
        shutdown(ctx.spark)
        spark = None
        ctx.mark("engine stopped")
    except Exception:
        traceback.print_exc()
        if spark is not None:
            shutdown(spark)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass

    outcome: Outcome = result["outcome"]
    e2e = {"setup_s": setup_main, **result["e2e"]}
    alias, alias_unit = result["alias"]
    p90, beyond = tail(result["latencies_ms"], 90)
    print(
        f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"cpus={engine.cpus()} heap={os.environ['SPARK_GRAFT_DRIVER_MEM']} "
        + " ".join(f"{k}={v}" for k, v in info.items())
    )
    print(f"setup_s {_fmt(e2e['setup_s'])} s")
    print(f"{alias} {_fmt(e2e['throughput_per_s'])} {alias_unit}")
    lat_ms = result["latencies_ms"]
    print(f"latency_ms {_fmt(e2e['latency_ms'])} ms (= {result['latency_name']})")
    print(f"latency_p50_ms {_fmt(median(lat_ms))} ms (n={len(lat_ms)})")
    if p90 is None:
        print(f"latency_p90_ms unsupported (n={len(result['latencies_ms'])}, {beyond} beyond p90; needs 10)")
    else:
        print(f"latency_p90_ms {_fmt(p90)} ms (n={len(result['latencies_ms'])}, {beyond} beyond)")
    print(f"peak_rss_mb {_fmt(e2e['peak_rss_mb'])} MB")
    print(f"failed_share {_fmt(outcome.failed_share)} ratio ({outcome.failed}/{outcome.attempted})")
    for k, v in result["notes"].items():
        print(f"note {k} {v}")
    for problem in outcome.problems:
        print(f"mismatch {problem}")
    if not result["valid"]:
        print("invalid generator fell behind its schedule; latencies describe a lighter load")

    if args.trace:
        metrics = result["layers"]
        units = layers.PER_LAYER
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".bench_out", f"trace-{args.workload}-{args.seed}.json"), metrics)
        for k in units:
            print(f"{k} {_fmt(metrics[k])} {units[k]}")
    else:
        metrics, units = e2e, END_TO_END
    print(
        json.dumps(
            {
                "correct": outcome.ok and result["valid"],
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
            }
        )
    )
    return exit_code(outcome, result["valid"])


if __name__ == "__main__":
    sys.exit(main())
