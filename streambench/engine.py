"""Engine-facing helpers: machine-fit settings, the session, and the
outside-in readings the benchmark takes from a running engine (process
memory, JVM GC MXBeans, Spark's status stores).

Settings are passed the way any user would pass them: environment
variables read by ``session.py`` and ``get_spark(extra_conf=...)``. No
engine code is changed.
"""

from __future__ import annotations

import os
import platform
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpus() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """A quarter of physical memory, between 2 and 6 GiB: the engine's
    24g default does not fit a small machine, and RocksDB state, Python
    workers and DuckDB live outside the heap."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return int(min(6144, max(2048, total_kb // 1024 // 4)))


def configure_env(work_dir: str) -> None:
    """Machine-fit environment for ``session.get_spark``; must run before
    the package is imported (``session.DEFAULT_CPUS`` is read at import).
    Scratch space of the engine and of Python's ``tempfile`` is kept inside
    the run's work directory."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp


# Fixed young generation: with G1's adaptive sizing the driver JVM's peak
# RSS followed how long collections took on a busy host (1.3 to 2.3 GB
# across identical gnn_stream runs on a 4-core VM); with a fixed young
# generation it follows what the program keeps (those runs: 3% apart).
YOUNG_GEN = "512m"


def extra_conf(work_dir: str) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xmn{YOUNG_GEN} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def process_start_time() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 overall: starttime in clock ticks
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def start_session(work_dir: str, n_cpus: int | None = None):
    from flink_streaming_gnn_spark.session import get_spark

    return get_spark(cpus=n_cpus, extra_conf=extra_conf(work_dir))


def versions(spark) -> dict[str, str]:
    import duckdb

    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }


# ---------------------------------------------------------------- memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process's descendants: the driver JVM and the
    Python workers it forked."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------------- JVM


def jvm_gc(spark) -> dict[str, float]:
    """Collector totals and heap left after the last collection, from the
    JVM's management beans over the py4j gateway."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    count = time_ms = 0
    for bean in mf.getGarbageCollectorMXBeans():
        count += max(0, bean.getCollectionCount())
        time_ms += max(0, bean.getCollectionTime())
    after = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType()) == "Heap memory":
            usage = pool.getCollectionUsage()
            if usage is not None:
                after += usage.getUsed()
    return {"gc_count": count, "gc_s": time_ms / 1000.0, "heap_after_gc_mb": after / 2**20}


# ---------------------------------------------------------------- status store


# longest wait for Spark's listener bus to deliver its queued events
LISTENER_BUS_TIMEOUT_MS = 10_000


def drain_listener_bus(spark) -> None:
    """Wait until Spark's listener bus has delivered every event, so the
    status stores are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(LISTENER_BUS_TIMEOUT_MS)


def _iter(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def high_water(spark) -> dict[str, int]:
    """Largest job, stage and SQL execution ids seen so far; readings taken
    later count only what is newer."""
    drain_listener_bus(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = [j.jobId() for j in _iter(store.jobsList(None))]
    stages = [s.stageId() for s in _iter(_stage_list(spark, store))]
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = [e.executionId() for e in _iter(sql.executionsList())]
    return {
        "job": max(jobs, default=-1),
        "stage": max(stages, default=-1),
        "execution": max(execs, default=-1),
    }


def _stage_list(spark, store):
    sc = spark.sparkContext
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    return store.stageList(None, False, False, no_quantiles, sc._jvm.java.util.ArrayList())


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Total of one SQL metric as the status store prints it, in bytes,
    seconds or rows: '100,000', '3.6 s', or 'total (min, med, max ...)\\n782.9 KiB (...)'."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME_S.get(unit, 1.0))


def exec_counters(spark, since: dict[str, int], wall_s: float) -> dict[str, float]:
    """Spark's own counters for the jobs, stages and SQL executions that
    started after ``since``: tasks, shuffle, spill, executor time, plan
    exchanges, and the Python exec nodes' metrics."""
    drain_listener_bus(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        [
            "jobs", "stages", "tasks", "failed_tasks", "exchanges", "broadcast_exchanges",
            "shuffle_write_mb", "shuffle_read_mb", "shuffle_fetch_wait_s", "spill_mb",
            "executor_run_s", "executor_cpu_s", "task_gc_s",
            "python_rows_sent", "python_mb_sent", "python_mb_received", "python_exec_s",
        ],
        0.0,
    )
    out["jobs"] = sum(1 for j in _iter(store.jobsList(None)) if j.jobId() > since["job"])
    for s in _iter(_stage_list(spark, store)):
        if s.stageId() <= since["stage"]:
            continue
        out["stages"] += 1
        out["tasks"] += s.numTasks()
        out["failed_tasks"] += s.numFailedTasks()
        out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
        out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
        out["shuffle_fetch_wait_s"] += s.shuffleFetchWaitTime() / 1000.0
        out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
        out["executor_run_s"] += s.executorRunTime() / 1000.0
        out["executor_cpu_s"] += s.executorCpuTime() / 1e9
        out["task_gc_s"] += s.jvmGcTime() / 1000.0
    out["cpu_busy_share"] = out["executor_cpu_s"] / (wall_s * cpus()) if wall_s > 0 else 0.0

    sql = spark._jsparkSession.sharedState().statusStore()
    for e in _iter(sql.executionsList()):
        eid = e.executionId()
        if eid <= since["execution"]:
            continue
        values = {kv._1(): kv._2() for kv in _iter(sql.executionMetrics(eid))}
        graph = sql.planGraph(eid)
        nodes = {n.id(): n for n in _iter(graph.allNodes())}
        rows_out = {}
        for n in nodes.values():
            name = n.name()
            if name == "Exchange":
                out["exchanges"] += 1
            elif name == "BroadcastExchange":
                out["broadcast_exchanges"] += 1
            for m in _iter(n.metrics()):
                if m.name() == "number of output rows" and m.accumulatorId() in values:
                    rows_out[n.id()] = parse_metric(values[m.accumulatorId()])
        python_nodes = {i for i, n in nodes.items() if _is_python_node(n.name())}
        for edge in _iter(graph.edges()):
            # edges point child -> parent: a Python node's input is its child's output
            if edge.toId() in python_nodes:
                out["python_rows_sent"] += rows_out.get(edge.fromId(), 0.0)
        for i in python_nodes:
            for m in _iter(nodes[i].metrics()):
                if m.accumulatorId() not in values:
                    continue
                v = parse_metric(values[m.accumulatorId()])
                if m.name() == "data sent to Python workers":
                    out["python_mb_sent"] += v / 2**20
                elif m.name() == "data returned from Python workers":
                    out["python_mb_received"] += v / 2**20
                elif m.name() == "time to run Python workers":
                    out["python_exec_s"] += v
    return out


def _is_python_node(name: str) -> bool:
    return "Python" in name or "Pandas" in name


def _metric_values(node) -> dict[str, int]:
    return {kv._1(): kv._2().value() for kv in _iter(node.metrics())}


def micro_batch_python(jquery) -> dict[str, float]:
    """Python exec nodes of a streaming query's current micro-batch, from
    the live SQL metrics of its executed plan (a ``foreachBatch`` write
    runs that plan under another SQL execution, so the status store does
    not attribute them). Rows sent are the rows the node's input produced."""
    out = {"python_rows_sent": 0.0, "python_mb_sent": 0.0, "python_mb_received": 0.0, "python_exec_s": 0.0}
    stack = [jquery.streamingQuery().lastExecution().executedPlan()]
    while stack:
        node = stack.pop()
        children = list(_iter(node.children()))
        stack.extend(children)
        if not _is_python_node(node.nodeName()):
            continue
        m = _metric_values(node)
        out["python_mb_sent"] += m.get("pythonDataSent", 0) / 2**20
        out["python_mb_received"] += m.get("pythonDataReceived", 0) / 2**20
        out["python_exec_s"] += m.get("pythonTotalTime", 0) / 1000.0
        for child in children:
            # the input's row count sits below codegen and adapter wrappers
            while "numOutputRows" not in (cm := _metric_values(child)) and child.children().size() == 1:
                child = child.children().head()
            out["python_rows_sent"] += cm.get("numOutputRows", 0)
    return out


def log(msg: str) -> None:
    """Progress notes go to stderr; stdout carries only metric lines."""
    print(msg, file=sys.stderr, flush=True)
