"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --driver-memory 2g --workload config_compile --seed 1 --seconds 18 --trace 0

From the repository root. Inputs are generated from ``--seed`` under
``.perfbench_work/`` (removed at exit); the engine runs on one local Spark
session (``local[4]``) driven by one client in a closed loop, each
operation starting when the previous one finished. After set-up, operations
run until ``--seconds`` of operation time have passed and a whole op cycle
is done, each followed by an untimed output check. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
from a traced run (spans are written to ``.perfbench_out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

SETUP_ROUNDS = 3
# a run stops early if its wall time passes this multiple of --seconds
WALL_FACTOR = 3

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MiB",
}

_SECONDS = [
    "session.build_s", "session.warmup_s",
    "pipeline.parse_s", "pipeline.run_s",
    "schema.flatten_s", "plans.path_tree_s", "plans.lower_s",
    "transform.apply_s", "catalyst.optimize_s",
    "sources.source_s", "sources.sink_s", "exec.action_s",
    "table.merge_s", "deletes.delete_s", "deletes.coalesce_s", "deletes.read_s",
    "history.time_travel_s", "text.normalize_s", "dedup.minhash_s", "dedup.exact_s",
    "cdc.commit_p50_s", "cdc.read_p50_s", "trace.overhead_s",
]
_COUNTS = [
    "schema.leaves", "plans.nodes", "catalyst.plan_nodes",
    "exec.tasks", "exec.failed_tasks", "table.rows_matched", "table.files_written",
    "deletes.pending_dv_files", "history.versions",
    "dedup.candidate_pairs", "dedup.verified_pairs",
]
_BYTES = [
    "sources.bytes_read", "sources.bytes_written", "exec.shuffle_bytes",
    "table.bytes_written", "history.bytes_retained",
]
_RATIOS = [
    "dedup.verify_ratio", "dedup.recall", "cdc.write_amp", "cdc.space_amp", "run.failed_ratio",
]
PER_LAYER_UNITS = {
    **{m: "s" for m in _SECONDS},
    **{m: "count" for m in _COUNTS},
    **{m: "bytes" for m in _BYTES},
    **{m: "ratio" for m in _RATIOS},
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def result_line(correct: bool, attempted: int, failed: int, values: dict[str, float],
                units: dict[str, str]) -> str:
    """The final stdout line: every metric in ``units``, with its unit."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {m: {"value": float(values.get(m, 0.0)), "unit": u} for m, u in units.items()},
    })


class Runner:
    def __init__(self, args, workload, ctx, engine, tracer) -> None:
        self.args = args
        self.wl = workload
        self.ctx = ctx
        self.engine = engine
        self.tracer = tracer
        self.stage_metrics = None
        self.records: list[tuple[int, float, object, bool]] = []

    def setup(self) -> dict[str, list[float]]:
        """Set-up, ``SETUP_ROUNDS`` times: build a session (each round after
        the first stops the previous one), prepare the workload's state and
        serve its light first request. Then warm every code path the
        operations take, untimed, in the last session."""
        times: dict[str, list[float]] = {"setup": [], "build": [], "warmup": []}
        for rnd in range(SETUP_ROUNDS):
            if self.ctx.spark is not None:
                self.ctx.spark.stop()
            t0 = self.engine.now()
            self.ctx.spark = self.engine.session(self.ctx.work, self.args.driver_memory)
            t1 = self.engine.now()
            self.wl.prepare(self.ctx, rnd)
            self.wl.first_use(self.ctx)
            t2 = self.engine.now()
            times["build"].append(t1 - t0)
            times["warmup"].append(t2 - t1)
            times["setup"].append(t2 - t0)
            log(f"set-up round {rnd}: session {t1 - t0:.2f}s, first use {t2 - t1:.2f}s")
        t0 = self.engine.now()
        self.wl.warmup(self.ctx)
        log(f"warm-up {self.engine.now() - t0:.2f}s")
        return times

    def one(self, i: int) -> tuple[float, object, bool]:
        from perfbench.workloads import OpResult

        tr = self.tracer
        tr.op = i
        if tr.enabled:
            self.stage_metrics.begin(i)
        t0 = self.engine.now()
        try:
            with tr.span("op") as root:
                res = self.wl.op(self.ctx, i)
        except Exception:
            log(f"op {i} raised:\n{traceback.format_exc()}")
            res = OpResult(False, 0, error="raised")
        latency = self.engine.now() - t0
        if tr.enabled:
            root.counts.update(self.stage_metrics.end())
        tr.op = -1
        try:
            ok = res.ok and self.wl.after_op(self.ctx, i, res)
        except Exception:
            log(f"check of op {i} raised:\n{traceback.format_exc()}")
            ok = False
        log(f"op {i} {res.kind} {latency:.3f}s {'ok' if ok else 'FAILED ' + res.error}")
        self.records.append((i, latency, res, ok))
        return latency, res, ok

    def loop(self, first: int, budget: float, count: int | None = None) -> list[int]:
        """Run operations from index ``first`` until ``budget`` seconds of
        operation time have passed and a whole number of the workload's
        op cycles is done (so every run measures the same mix), or until
        ``count`` operations if given. The wall time is capped at
        ``WALL_FACTOR`` times the budget."""
        spent, done = 0.0, []
        start = self.engine.now()
        i = first
        cycle = self.wl.CYCLE
        while (spent < budget or len(done) % cycle) if count is None else (len(done) < count):
            if self.engine.now() - start > WALL_FACTOR * max(budget, 10.0):
                log("wall-time guard reached; stopping the loop")
                break
            latency, _res, _ok = self.one(i)
            spent += latency
            done.append(i)
            i += 1
        return done


def e2e_metrics(records, setup_times, rss_mb: float) -> dict[str, float]:
    lat = [r[1] for r in records]
    total = sum(lat)
    return {
        "setup_s": statistics.median(setup_times["setup"]),
        "latency_p50_s": statistics.median(lat),
        "ops_per_s": len(lat) / total,
        "rows_per_s": sum(r[2].rows for r in records) / total,
        "peak_rss_mb": rss_mb,
    }


def layer_metrics(runner: Runner, traced_ops: list[int], untraced, traced, setup_times,
                  extra: dict[str, float]) -> dict[str, float]:
    ops = set(traced_ops)
    values = runner.tracer.layer_medians(ops)
    values["session.build_s"] = statistics.median(setup_times["build"])
    values["session.warmup_s"] = statistics.median(setup_times["warmup"])
    by_kind: dict[str, list[float]] = {}
    for _i, latency, res, _ok in traced:
        by_kind.setdefault(res.kind, []).append(latency)
    commits = by_kind.get("merge", []) + by_kind.get("delete", []) + by_kind.get("coalesce", [])
    reads = by_kind.get("read", []) + by_kind.get("time_travel", [])
    if commits:
        values["cdc.commit_p50_s"] = statistics.median(commits)
    if reads:
        values["cdc.read_p50_s"] = statistics.median(reads)
    values["trace.overhead_s"] = (
        sum(r[1] for r in traced) - sum(r[1] for r in untraced)
    ) / max(1, len(traced))
    values.update(extra)
    self_times = runner.tracer.self_times(ops)
    for name, secs in sorted(self_times.items(), key=lambda kv: -kv[1]):
        log(f"self time {name:24s} {secs:8.3f}s")
    return values


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--driver-memory", default="2g", help="fixed Spark driver heap")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    started = time.perf_counter()
    if not (ROOT / "config_driven_pyspark_spark" / "__init__.py").is_file():
        log(f"engine package config_driven_pyspark_spark not found under {ROOT}")
        return 2
    from perfbench import engine, tracing
    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}")
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tracer = tracing.Tracer(enabled=False)
    ctx = Context(spark=None, tracer=tracer, work=str(work), seed=args.seed)
    wl = WORKLOADS[args.workload](args.seed, str(work))
    runner = Runner(args, wl, ctx, engine, tracer)
    try:
        wl.generate()
        if args.trace:
            tracing.install(tracer, engine.make_force_plan(tracer))
        setup_times = runner.setup()
        if args.trace:
            runner.stage_metrics = engine.StageMetrics(ctx.spark)
            untraced_ops = runner.loop(0, args.seconds / 2)
            tracer.enabled = True
            traced_ops = runner.loop(len(untraced_ops), args.seconds, count=len(untraced_ops))
            untraced = runner.records[: len(untraced_ops)]
            traced = runner.records[len(untraced_ops):]
        else:
            pids = ("self", engine.jvm_pid(ctx.spark))
            cpu0 = sum(engine.cpu_seconds(p) for p in pids)
            t0 = engine.now()
            runner.loop(0, args.seconds)
            log(f"timed window: wall {engine.now() - t0:.2f}s cpu {sum(engine.cpu_seconds(p) for p in pids) - cpu0:.2f}s")
        extra = wl.final_metrics(ctx)
        rss = engine.vm_hwm_mb() + engine.vm_hwm_mb(engine.jvm_pid(ctx.spark))
    finally:
        engine.shutdown(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    attempted = len(runner.records)
    failed = sum(1 for r in runner.records if not r[3])
    if args.trace:
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        tracer.dump(str(out_dir / f"spans-{args.workload}-{args.seed}.jsonl"))
        extra["run.failed_ratio"] = failed / attempted
        values = layer_metrics(runner, traced_ops, untraced, traced, setup_times, extra)
        line = result_line(failed == 0, attempted, failed, values, PER_LAYER_UNITS)
    else:
        values = e2e_metrics(runner.records, setup_times, rss)
        line = result_line(failed == 0, attempted, failed, values, E2E_UNITS)
    log(f"done in {time.perf_counter() - started:.1f}s")
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
