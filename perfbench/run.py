"""Benchmark of the vector2dggs_spark engine.

    python3 perfbench/run.py --workload index_mixed --seed 3 --seconds 10 --trace 0

Run from the root of a checkout.  Prints human-readable ``#`` lines, then
one JSON object on the last line::

    {"correct": true, "attempted": 9, "failed": 0,
     "metrics": {"docs_per_s": {"value": 251.3, "unit": "1/s"}, ...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run.  Workloads, metrics and the layer each
metric is meant to track are described in perfbench/README.md.
"""
from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PREP_REPEATS = 3  # input preparation is repeated and its median reported

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "cells_per_s": "1/s",
    "bytes_per_cell": "B",
    "peak_rss_mb": "MB",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "ops_per_s": "1/s",
}


def per_layer_units() -> dict[str, str]:
    from spans import COUNTERS
    from workloads import SPAN_LAYERS

    units = {"busy_s": "s", "jobs": "count", "tasks": "count", "failed_tasks": "count",
             "executor_run_s": "s", "executor_cpu_s": "s", "shuffle_write_mb": "MB",
             "spill_mb": "MB", "plan_s": "s"}
    out = {f"{layer}.{k}": units[k] for layer in SPAN_LAYERS for k in ("busy_s",) + COUNTERS}
    out.update({
        "dggs.busy_s": "s", "session.busy_s": "s",
        "prepare.rows_in": "count", "prepare.drop_ratio": "ratio", "prepare.parts_per_geom": "ratio",
        "polyfill.cells_out": "count", "polyfill.cells_per_part": "ratio",
        "compaction.rows_in": "count", "compaction.rows_out": "count",
        "sink.files": "count", "sink.bytes": "B", "sink.partitions": "count",
        "cell_join.busy_s": "s", "knn.busy_s": "s", "assign_tiles.busy_s": "s",
        "knn.jobs": "count", "knn.stages": "count",
        "cell_join.rows_out": "count", "assign_tiles.rows_out": "count",
        "dggs.point_to_cell_per_s": "1/s", "dggs.polyfill_cells_per_s": "1/s",
        "dggs.grid_disk_cells_per_s": "1/s",
        "trace.wall_s": "s", "trace.accounted_share": "ratio", "trace.overhead_share": "ratio",
    })
    return out


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


# ------------------------------------------------------------ machine fit
def fit_environment(work: Path) -> dict[str, str]:
    """Size the session to this machine and keep every file it writes
    inside ``work``.  Must run before pyspark starts the JVM."""
    cores = len(os.sched_getaffinity(0))
    mem_kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
    driver_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))  # a quarter of RAM, at most 4g
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # every JVM, spark-submit's launcher included: temp files in
        # ``work``, and no hsperfdata file under the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Spark's Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    return env


# ----------------------------------------------------------- processes
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (the forked Python workers) divided among them, so a sum
    over processes counts each page once."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory (as PSS) of the driver JVM plus its Python
    workers."""

    def __init__(self, root_pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.root_pid, self.period = root_pid, period
        self.peak = self.peak_jvm = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            total = 0
            for pid in process_tree(self.root_pid):
                try:
                    rss = pss_bytes(pid)
                except OSError:
                    continue
                total += rss
                if pid == self.root_pid:
                    self.peak_jvm = max(self.peak_jvm, rss)
            self.peak = max(self.peak, total)
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        log(f"peak RSS {self.peak / 1e6:.0f} MB, of which the JVM alone peaked at "
            f"{self.peak_jvm / 1e6:.0f} MB")
        return self.peak / 1e6


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    Python worker it started have exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = process_tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


# ------------------------------------------------------------- metrics
TAIL_PCT = 90


def tail(values: list[float]) -> tuple[float, str]:
    """The p90 of the run's operations, interpolated between samples.  A
    run holds 2-10 operations, fewer than the 100 that would put ten
    beyond p90, so this is a fixed percentile rather than the highest
    one the sample supports: an n-dependent percentile would move
    whenever a change made operations faster and more of them fit."""
    if len(values) == 1:
        return values[0], "only operation"
    q = statistics.quantiles(values, n=100, method="inclusive")[TAIL_PCT - 1]
    beyond = sum(v > q for v in values)
    return q, f"p{TAIL_PCT} of {len(values)} ({beyond} beyond it)"


def end_to_end(workload, ops, setup_s: float, rss_mb: float) -> dict[str, float]:
    secs = [o.seconds for o in ops]
    tail_s, tail_desc = tail(secs)
    log(f"op_tail_ms is the {tail_desc} operations")
    m = {"setup_s": setup_s, **workload.metrics(ops), "peak_rss_mb": rss_mb,
         "op_p50_ms": statistics.median(secs) * 1e3, "op_tail_ms": tail_s * 1e3,
         "ops_per_s": len(ops) / sum(secs)}
    kinds = sorted({o.kind for o in ops})
    if len(kinds) > 1:
        for kind in kinds:
            ks = [o.seconds for o in ops if o.kind == kind]
            log(f"{kind}_p50_ms={statistics.median(ks) * 1e3:.1f} over {len(ks)} requests")
    return m


def guarded(wl, ctx, i: int):
    """One measured operation; an exception counts as a failed one."""
    from workloads import OpResult

    t0 = time.perf_counter()
    try:
        return wl.op(ctx, i)
    except Exception as e:  # the run must go on to report the failure
        traceback.print_exc()
        return OpResult("error", time.perf_counter() - t0, 0, 0, [f"{type(e).__name__}: {e}"])


# ------------------------------------------------------------------ main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["index_mixed", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "vector2dggs_spark" / "__init__.py").is_file():
        print(f"vector2dggs_spark not found under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2

    sys.path.insert(1, str(ROOT))
    t_start = time.perf_counter()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = fit_environment(work)
    log(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
        f"cores={env['SPARK_GRAFT_CPUS']} driver_mem={env['SPARK_GRAFT_DRIVER_MEM']}")
    spark = sampler = None
    try:
        from vector2dggs_spark import get_spark

        from workloads import WORKLOADS, Context, OpResult, timed

        spark, session_s = timed(lambda: get_spark(app="perfbench"))
        spark.sparkContext.setLogLevel("ERROR")
        sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
        sampler.start()
        ctx = Context(spark, str(work), args.seed)
        wl = WORKLOADS[args.workload]()

        prep = [timed(lambda: wl.prepare_inputs(ctx))[1] for _ in range(PREP_REPEATS)]
        warm, warm_s = timed(lambda: wl.warm_up(ctx))
        # the warm-up's own checks run inside warm_up; they are output
        # checks, not set-up work, but cost well under a second
        setup_s = session_s + statistics.median(prep) + warm_s
        log(f"setup: session {session_s:.2f}s, inputs {statistics.median(prep):.2f}s "
            f"(median of {PREP_REPEATS}), warm-up {warm_s:.2f}s")
        checked = list(warm)

        if args.trace == 0:
            ops = []
            deadline = time.perf_counter() + args.seconds
            # at least MIN_OPS, and whole rotation cycles only, so every run
            # sees the same mix
            while (len(ops) < wl.MIN_OPS or time.perf_counter() < deadline
                   or not wl.cycle_done()):
                ops.append(guarded(wl, ctx, len(ops)))
                log(f"{ops[-1].kind} {ops[-1].seconds:.3f}s rows={ops[-1].rows}")
            metrics = end_to_end(wl, ops, setup_s, sampler.stop())
            units = END_TO_END
            checked += ops
        else:
            metrics, errors = traced_run(ctx, wl, args, checked)
            units = per_layer_units()
            if errors:
                checked.append(OpResult("trace", 0.0, 0, 0, errors))
            sampler.stop()
    finally:
        if sampler is not None and sampler.is_alive():
            sampler.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass

    failed = [o for o in checked if o.errors]
    for o in failed:
        for e in o.errors:
            log(f"FAILED {o.kind}: {e}")
    log(f"failed_ratio={len(failed) / len(checked):.4f} ({len(failed)}/{len(checked)}) "
        f"wall={time.perf_counter() - t_start:.1f}s")
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(checked),
        "failed": len(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


def traced_run(ctx, wl, args, checked) -> tuple[dict[str, float], list[str]]:
    """First half: the operation untraced and traced in turn, for the
    tracing overhead.  Second half: per-layer breakdown cycles; each
    metric is the median over cycles."""
    from spans import Tracer
    from workloads import SPAN_LAYERS

    half = time.perf_counter() + args.seconds / 2
    ratios = []
    while not ratios or time.perf_counter() < half:
        i, kind = len(ratios), wl.next_kind()
        tracer = Tracer(ctx.spark, f"overhead{i}")
        # alternate which goes first: later operations run on a warmer JVM
        first, second = (None, tracer) if i % 2 == 0 else (tracer, None)
        a, b = wl.op(ctx, i, kind, first), wl.op(ctx, i, kind, second)
        plain, traced = (a, b) if first is None else (b, a)
        tracer.finish()
        checked += [plain, traced]
        ratios.append(traced.seconds / plain.seconds)
    overhead = statistics.median(ratios) - 1.0

    wl.begin_trace(ctx)
    cycles, errors = [], []
    deadline = time.perf_counter() + args.seconds / 2
    while not cycles or time.perf_counter() < deadline:
        tracer = Tracer(ctx.spark, f"cycle{len(cycles)}")
        counts, request_spans, errs = wl.traced_cycle(ctx, tracer)
        errors += errs
        collect_s = tracer.finish()
        m = tracer.layer_metrics(SPAN_LAYERS)
        m.update(counts)
        for key, sp in request_spans.items():
            m[f"{key}.busy_s"] = sp.duration - sp.children_s - sp.idle_s
        if "knn" in request_spans:
            m["knn.jobs"] = request_spans["knn"].counters["jobs"]
            m["knn.stages"] = request_spans["knn"].stages
        root = tracer.spans[0]
        accounted = sum(v for k, v in m.items() if k.endswith(".busy_s")
                        and k.split(".")[0] in SPAN_LAYERS + ["dggs", "session"])
        m["trace.wall_s"] = root.duration
        m["trace.accounted_share"] = accounted / root.duration
        m["trace.collect_s"] = collect_s
        cycles.append(m)
        log("spans " + json.dumps(tracer.dump()))
    out = {k: statistics.median(c.get(k, 0.0) for c in cycles) for k in per_layer_units()}
    out["trace.overhead_share"] = overhead
    log(f"traced cycles={len(cycles)}; tracing overhead {overhead:+.3f} of the untraced "
        f"operation (median over {len(ratios)} pairs); status-store reads after each cycle "
        f"{statistics.median(c['trace.collect_s'] for c in cycles):.2f}s")
    return out, errors


if __name__ == "__main__":
    sys.exit(main())
