"""Spark-side plumbing: the benchmark session, Catalyst timing, per-op stage
metrics from Spark's status store, memory high-water marks and shutdown."""

from __future__ import annotations

import json
import os
import time

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4


def session(work: str, driver_memory: str):
    """The engine's tuned session (``build_session``) on ``MASTER``, with
    every temporary path inside ``work``."""
    from config_driven_pyspark_spark import build_session

    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": driver_memory,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{driver_memory} -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Dderby.system.home={work}"
        ),
    }
    spark = build_session(
        app_name="perfbench", master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS, confs=confs,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session (if one was built), then the JVM that PySpark
    launched, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    # the gateway JVM exits when its stdin closes
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def expression_nodes(plan) -> int:
    """Expression nodes in a Catalyst plan (all nodes of its JSON form
    minus the plan operators themselves)."""
    nodes = json.loads(plan.toJSON())

    def count(obj) -> int:
        if isinstance(obj, dict):
            return ("class" in obj) + sum(count(v) for v in obj.values())
        if isinstance(obj, list):
            return sum(count(v) for v in obj)
        return 0

    return count(nodes) - len(nodes)


def make_force_plan(tracer):
    """``force_plan(df)``: run analysis and optimization of ``df`` inside a
    ``catalyst.optimize`` span and count its expression nodes. The action
    that follows reuses the optimized plan."""

    def force_plan(df) -> None:
        if not tracer.enabled:
            return
        with tracer.span("catalyst.optimize"):
            plan = df._jdf.queryExecution().optimizedPlan()
        tracer.count("catalyst.plan_nodes", expression_nodes(plan))

    return force_plan


def action(tracer, df) -> list:
    """Collect ``df`` with Catalyst and execution timed apart."""
    make_force_plan(tracer)(df)
    with tracer.span("exec.action"):
        return df.collect()


def sink(tracer, df, spec: dict) -> None:
    """Write ``df`` with the engine's sink stage, Catalyst timed apart."""
    from config_driven_pyspark_spark.sources import writers

    with tracer.span("sources.sink"):
        make_force_plan(tracer)(df)
        with tracer.span("exec.action"):
            writers.stage_sink(df, spec)


class StageMetrics:
    """Per-operation task and byte counts, read from the stage records in
    Spark's status store for the jobs of the operation's job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._empty_list = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def begin(self, op: int) -> None:
        self.group = f"perfbench-op-{op}"
        self.sc.setJobGroup(self.group, self.group)

    def end(self) -> dict[str, float]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {"exec.tasks": 0, "exec.failed_tasks": 0, "exec.shuffle_bytes": 0,
               "sources.bytes_read": 0, "sources.bytes_written": 0}
        stage_ids: set[int] = set()
        for job in tracker.getJobIdsForGroup(self.group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            attempts = store.stageData(sid, False, self._empty_list, False, self._no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                out["exec.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["exec.failed_tasks"] += st.numFailedTasks()
                out["exec.shuffle_bytes"] += st.shuffleWriteBytes()
                out["sources.bytes_read"] += st.inputBytes()
                out["sources.bytes_written"] += st.outputBytes()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        # an operation that ran no such work does not count toward the
        # layer's median
        return {k: v for k, v in out.items() if v}


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_seconds(pid: int | str = "self") -> float:
    """User plus system CPU time a process has used, in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def dir_bytes(path: str) -> int:
    """Bytes of all files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(root, n))
        for root, _dirs, names in os.walk(path)
        for n in names
    )


def now() -> float:
    return time.perf_counter()
