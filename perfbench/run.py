"""Seeded benchmark of the log pipeline and the token-curation jobs.

Usage (from the repository root):

    python3 perfbench/run.py --workload logs_increments --seed 1 \
        --seconds 10 --trace 0

One run starts one ``local[nproc]`` session, generates the workload's
inputs from ``--seed``, runs the untimed warm pass, then runs timed
jobs back to back (a closed loop from this one Python process: the next
job starts when the previous one has finished and been verified) until
``--seconds`` of job time have passed.  Every timed output is checked
against an independent DuckDB computation; a job that raises or fails
the check counts in ``failed``.

``--trace 0`` prints the end-to-end metrics (medians over the timed
jobs); ``--trace 1`` runs untraced jobs for the baseline, then one job
with every layer's public calls wrapped in spans, writes the spans to
``.bench_out/`` and prints the per-layer metrics.  The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.

All files (inputs, outputs, Spark scratch, temp files) live under
``.bench_work/`` in the repository root and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


# the package defaults to an 8 GiB driver heap; 2 GiB holds every
# workload here (curate_pack's heap pools peak at about 1.5 GiB) and
# bounds what the benchmark can take from a machine it shares
JVM_HEAP = "2g"
# stop starting new jobs once a run is this old, so it ends in time
RUN_DEADLINE_S = 140


def _scratch_env(work: str) -> dict:
    """Environment that keeps Spark, its Python workers and temp files
    inside ``work`` and makes the package importable by the workers."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher included
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def _start_session(conf: dict, trace: bool):
    from opentelemetry_collector_contrib_spark.session import get_spark
    if trace:
        # keep every job and stage of a long traced run in the store
        conf = {**conf, "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000"}
    return get_spark(cpus=os.cpu_count(), extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and so its Python workers)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _reap_children() -> None:
    from perfbench.probe import descendants
    left = descendants(os.getpid())
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


class Timed:
    """Per-job samples of the end-to-end quantities."""

    def __init__(self, probe, jvm_mem):
        self.probe = probe
        self.jvm_mem = jvm_mem
        self.wall: list[float] = []
        self.cpu: list[float] = []
        self.mem_mb: list[float] = []
        self.write_mb: list[float] = []

    def measure(self, fn):
        from perfbench.probe import PeakWorkerMemory
        self.jvm_mem.reset()
        r0 = self.probe.read()
        with PeakWorkerMemory(self.probe) as workers:
            t0 = time.perf_counter()
            res = fn()
            wall = time.perf_counter() - t0
        r1 = self.probe.read()
        self.wall.append(wall)
        self.cpu.append(r1.cpu_s - r0.cpu_s)
        self.mem_mb.append((self.jvm_mem.peak_bytes() + workers.peak)
                           / (1 << 20))
        self.write_mb.append((r1.write_b - r0.write_b) / (1 << 20))
        return res

    def values(self, setup_s: float) -> dict[str, float]:
        """The end-to-end metrics: medians over the timed jobs."""
        return {"cycle_s": median(self.wall), "cpu_s": median(self.cpu),
                "peak_mem_mb": median(self.mem_mb),
                "io_write_mb": median(self.write_mb), "setup_s": setup_s}


def _run_job(wl, spark, run) -> tuple[bool, object]:
    """One job plus its verification; False when it raised or its
    output is wrong."""
    wl.before_job()
    try:
        res = run()
        log(f"{wl.name} job done")
        problems = wl.verify(spark, res)
        log(f"{wl.name} job verified")
    except Exception:
        traceback.print_exc()
        return False, None
    for p in problems:
        print(f"VERIFY FAILED [{wl.name}]: {p}", file=sys.stderr)
    if not problems:
        wl.cleanup(res)
    return not problems, res


def _exit_on_sigterm(signum, frame):
    # run the cleanup in main's finally (stop the JVM, remove files)
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = _scratch_env(work)
    spark = wl = None
    try:
        from perfbench.probe import JvmPeakMemory, TreeProbe, jvm_pid
        t0 = time.perf_counter()
        spark = _start_session(conf, bool(args.trace))
        session_s = time.perf_counter() - t0
        log(f"session up in {session_s:.1f} s")
        wl = WORKLOADS[args.workload](work, args.seed)
        wl.generate()
        log("inputs generated")
        wl.warm(spark)
        setup_s = time.perf_counter() - t0
        log(f"warm pass done; setup {setup_s:.1f} s")
        warm_problems = wl.prepare(spark)
        for p in warm_problems:
            print(f"VERIFY FAILED [{wl.name} warm pass]: {p}", file=sys.stderr)
        t = Timed(TreeProbe(jvm_pid()), JvmPeakMemory(spark._jvm))
        if args.trace:
            out = _traced_run(args, wl, spark, t, session_s, started)
        else:
            out = _timed_run(args, wl, spark, t, setup_s, started)
        out["correct"] = out["correct"] and not warm_problems
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            _stop_session(spark)
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


def _job_loop(wl, spark, t: Timed, seconds: float,
              started: float) -> tuple[int, int]:
    """Closed loop of measured jobs until ``seconds`` of job time (and
    at least ``wl.min_jobs``); returns (attempted, failed)."""
    attempted = failed = 0
    while (attempted < wl.min_jobs or sum(t.wall) < seconds) \
            and time.perf_counter() - started < RUN_DEADLINE_S:
        ok, _ = _run_job(wl, spark,
                         lambda: t.measure(lambda: wl.job(spark)))
        attempted += 1
        failed += not ok
    if not t.wall:
        raise RuntimeError("no timed job completed")
    return attempted, failed


def _timed_run(args, wl, spark, t: Timed, setup_s: float,
               started: float) -> dict:
    attempted, failed = _job_loop(wl, spark, t, args.seconds, started)
    from perfbench import declared
    values = t.values(setup_s)
    # cpu over wall: the cores the job actually got (of os.cpu_count())
    print(f"{wl.name} seed {args.seed}: {attempted} timed jobs, {failed} "
          f"failed, error_rate {failed / attempted:.3f}; job walls "
          f"{' '.join(f'{w:.2f}' for w in t.wall)} s; cpu "
          f"{' '.join(f'{c:.2f}' for c in t.cpu)} s; peak memory "
          f"{' '.join(f'{m:.0f}' for m in t.mem_mb)} MiB; "
          f"{values['cpu_s'] / values['cycle_s']:.2f} of {os.cpu_count()} "
          f"cores busy")
    metrics = declared("end_to_end")
    for name, unit in metrics:
        n = 1 if name == "setup_s" else len(t.wall)
        print(f"  {name:<12} {values[name]:>14.4f} {unit:<7} "
              f"(median of {n})")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {name: {"value": values[name], "unit": unit}
                        for name, unit in metrics}}


def _traced_run(args, wl, spark, t: Timed, session_s: float,
                started: float) -> dict:
    from perfbench import declared, layers
    from perfbench.trace import Recorder, group_stage_metrics
    sc = spark.sparkContext
    # untraced baseline, in its own job group so its jobs can be counted
    sc.setJobGroup("untraced", "untraced")
    attempted, failed = _job_loop(wl, spark, t, args.seconds, started)
    walls = t.wall
    sc._jsc.clearJobGroup()
    rec = Recorder(run_id=f"{wl.name}-s{args.seed}", sc=sc, probe=t.probe)
    ok, res = _run_job(wl, spark, lambda: wl.traced_job(spark, rec))
    attempted += 1
    failed += not ok
    groups = group_stage_metrics(sc)
    root = rec.spans[0].name
    ctx = {"session_s": session_s, "root": root,
           "traced_wall": rec.spans[0].dur, "untraced_walls": walls}
    if res is not None:
        ctx.update(wl.trace_context(res, walls,
                                    groups.get("untraced", {}).get("jobs", 0)))
    spans = rec.by_name()
    values = layers.per_layer_values(spans, groups, ctx)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{wl.name}-s{args.seed}.json")
    rec.dump(path, {"groups": groups, "per_layer": values,
                    "untraced_walls_s": walls})
    print(f"{wl.name} seed {args.seed}: traced job {rec.spans[0].dur:.2f} s "
          f"vs untraced median {median(walls):.2f} s over {len(walls)} "
          f"(overhead {values['trace.overhead_s']:.2f} s from forced layer "
          f"boundaries); unattributed {values['trace.unattributed_s']:.2f} s;"
          f" spans in {os.path.relpath(path, ROOT)}")
    metrics = declared("per_layer")
    for name, unit in metrics:
        print(f"  {name:<28} {values[name]:>14.4f} {unit}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {name: {"value": values[name], "unit": unit}
                        for name, unit in metrics}}


if __name__ == "__main__":
    # import the benchmark as the ``perfbench`` package, never its
    # modules as top-level names (``trace`` would shadow the stdlib's)
    sys.path[0] = ROOT
    sys.exit(main())
