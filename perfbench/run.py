#!/usr/bin/env python3
"""Repo benchmark: closed-loop workloads on local[4], end to end and per layer.

    python3 perfbench/run.py --workload medallion_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics of one timed window; ``--trace 1`` runs the same window, then
replays the same ops from the same state with spans and Spark job
groups on, and prints the per-layer metrics (see README.md). The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. Any error exits non-zero without printing it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_MEM = "2g"
OUT_DIR = os.path.join(ROOT, ".perfbench", "out")


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _launch_env(run_dir: str) -> str:
    """Environment for this process, the JVM and the Python workers: the
    repo root on every PYTHONPATH, all scratch space inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join([ROOT, *paths]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
    })
    sys.path[:0] = [ROOT, HERE]
    return tmp


def _start_session(run_dir: str, tmp: str):
    from bow_hunter_pipeline_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        shuffle_partitions=8,  # bench.py's rule for inputs under 512 MB
        extra_conf={
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _cpu_s() -> list[float]:
    """The whole machine's CPU seconds from /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) / os.sysconf("SC_CLK_TCK") for x in fh.readline().split()[1:]]


def _host_counters(spark) -> dict:
    """CPU seconds of the whole machine (busy, steal) and JVM GC seconds,
    to tell host noise from program behaviour in the details file."""
    f = _cpu_s()
    jvm = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in jvm.getGarbageCollectorMXBeans())
    return {"busy_s": sum(f[:8]) - f[3] - f[4], "steal_s": f[7], "jvm_gc_s": gc_ms / 1e3}


@dataclass
class Rec:
    kind: str
    latency: float
    error: str | None
    probe: dict | None = None
    contended: bool = False


# The host is shared: at times its hypervisor takes most of a vCPU away
# from this machine for minutes (CPU steal), and every op in that stretch
# runs up to twice as slow. A round during whose ops more than STEAL_LIMIT
# CPUs were stolen on average is still run, checked and counted, but its
# latencies measure the host, not the program, so the latency metrics
# leave the whole round out (whole rounds, so the mix of op kinds stays
# the same). Quiet rounds see under 0.1 CPUs of steal.
STEAL_LIMIT = 0.25
# a window ends by WALL_FACTOR × --seconds of wall time, contended or not
WALL_FACTOR = 2.5


def window(workload, tracer, seconds=None, n_ops=None) -> list[Rec]:
    """Closed loop: run ops back to back, in whole rounds, until
    ``seconds`` of measured (not contended) op time or exactly ``n_ops``
    ops. A new round starts only if the last one would still fit, in
    measured time and in ``WALL_FACTOR × seconds`` of wall time, so every
    window holds the same mix of op kinds (the first round always runs).
    The check runs after the timed call."""
    recs: list[Rec] = []
    t0 = last = time.perf_counter()
    measured = last_measured = 0.0
    for ops in workload.rounds():
        now = time.perf_counter()
        if seconds is not None and recs and (
            measured + last_measured > seconds
            or now - t0 + (now - last) > WALL_FACTOR * seconds
        ):
            return recs
        last, first = now, len(recs)
        busy = stolen = 0.0
        for op in ops:
            if n_ops is not None and len(recs) >= n_ops:
                return recs
            result, error = None, None
            with tracer.op(op.kind):
                steal0 = _cpu_s()[7]
                start = time.perf_counter()
                try:
                    result = op.run(tracer)
                except Exception as exc:  # a failed op is counted, not fatal
                    error = f"{type(exc).__name__}: {str(exc)[:300]}"
                latency = time.perf_counter() - start
                stolen += _cpu_s()[7] - steal0
            busy += latency
            if error is None:
                try:
                    error = op.check(result)
                except Exception as exc:
                    error = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
            probe = op.probe(result) if tracer.enabled and error is None and op.probe else None
            recs.append(Rec(op.kind, latency, error, probe))
        if stolen > STEAL_LIMIT * busy:
            for r in recs[first:]:
                r.contended = True
            last_measured = 0.0
        else:
            last_measured = busy
            measured += busy
    return recs


def timed_ops(recs: list[Rec]) -> list[Rec]:
    """The ops the latency metrics are taken over: those the host did not
    slow down, or all of them if it slowed every one."""
    return [r for r in recs if not r.contended] or recs


TAIL_PERCENTILE = 90


def tail(latencies: list[float]) -> tuple[float, int]:
    """(latency at ``TAIL_PERCENTILE``, linearly interpolated; the number
    of ops slower than it). A 20 s window holds about 10 to 20 ops, too
    few for "the highest percentile with ten ops beyond it": that rule
    jumps from the slowest op at 10 ops to the fastest at 11."""
    if len(latencies) == 1:
        return latencies[0], 0
    value = statistics.quantiles(latencies, n=100, method="inclusive")[TAIL_PERCENTILE - 1]
    return value, sum(x > value for x in latencies)


def run(args) -> dict:
    t_start = time.perf_counter() - _process_age()
    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        tmp = _launch_env(run_dir)
        import spans as tr_mod
        from workloads import WORKLOADS

        workload = WORKLOADS[args.workload](run_dir, args.seed)
        with tr_mod.RssSampler() as rss:
            t0 = time.perf_counter()
            workload.prepare()
            gen_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            workload.oracle()
            oracle_s = time.perf_counter() - t0

            t0 = time.perf_counter()
            spark = _start_session(run_dir, tmp)
            start_s = time.perf_counter() - t0
            try:
                tracer = tr_mod.Tracer(spark, enabled=False)
                t0 = time.perf_counter()
                workload.setup(spark)
                fixture_s = time.perf_counter() - t0
                t0 = time.perf_counter()
                warm = window(_Fixed(workload.warmup_ops()), tracer)
                warmup_s = time.perf_counter() - t0
                setup_s = time.perf_counter() - t_start - gen_s - oracle_s
                if args.trace:
                    workload.save_state()
                host0 = _host_counters(spark)
                recs = window(workload, tracer, seconds=args.seconds)
                host = {k: v - host0[k] for k, v in _host_counters(spark).items()}
                traced = jobs = stages = None
                if args.trace:
                    workload.restore_state()
                    tracer.enabled = True
                    n = max(1, len(timed_ops(recs)) // workload.round_len) * workload.round_len
                    traced = window(workload, tracer, n_ops=n)
                    tracer.enabled = False
                    jobs, stages = tr_mod.fetch_jobs_and_stages(spark)
            finally:
                _stop_session(spark)
        peak_mb = rss.peak_kb / 1024.0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for r in warm + recs + (traced or []):
        if r.error:
            print(f"# FAILED {r.kind}: {r.error}", file=sys.stderr)
    all_recs = recs + (traced or [])
    failed = sum(r.error is not None for r in all_recs)
    timed = timed_ops(recs)
    lat = [r.latency for r in timed]
    tail_s, beyond = tail(lat)
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "ops": len(recs), "ops_timed": len(timed), "op_tail_percentile": TAIL_PERCENTILE,
        "ops_beyond_tail": beyond,
        "setup": {"gen_s": gen_s, "oracle_s": oracle_s, "session_start_s": start_s, "fixture_s": fixture_s,
                  "warmup_s": warmup_s, "setup_s": setup_s},
        "window_host": host,
        "peak_rss_kb_by_process": rss.peak_parts,
        "warmup_detail": [[r.kind, r.latency, r.error] for r in warm],
        "ops_detail": [[r.kind, r.latency, r.error, r.contended] for r in recs],
    }
    print(f"# {args.workload} seed {args.seed}: {len(recs)} ops, {len(recs) - len(timed)} "
          f"left out of the latency metrics as contended, op_tail_s = p{TAIL_PERCENTILE} "
          f"of {len(lat)} ({beyond} slower), setup {setup_s:.2f} s "
          f"(excluded: inputs {gen_s:.2f} s, oracle {oracle_s:.2f} s)")
    if args.trace:
        from layers import layer_metrics

        metrics = layer_metrics(
            tracer.spans, jobs, stages, traced, recs, start_s, warmup_s,
            workload.short_page_misreads(),
        )
        tracer.write(stem + ".spans.jsonl")
        details["layers"] = metrics
        print(f"# spans: {stem}.spans.jsonl; tracing overhead "
              f"{metrics['trace.overhead_frac']['value']:+.3f}")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (sum(r.error is None for r in timed) / sum(lat), "1/s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail_s, "s"),
            "ok_frac": (sum(r.error is None for r in recs) / len(recs), "frac"),
            "peak_rss_mb": (peak_mb, "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    with open(stem + ".json", "w") as fh:
        json.dump(details, fh, indent=1)
    warm_failed = any(r.error for r in warm)
    return {
        "correct": failed == 0 and not warm_failed,
        "attempted": len(all_recs),
        "failed": failed,
        "metrics": metrics,
    }


class _Fixed:
    """A one-round op source (the warm-up)."""

    def __init__(self, ops):
        self.ops = ops

    def rounds(self):
        yield self.ops


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["medallion_ingest", "lakehouse_reads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bow_hunter_pipeline_spark")):
        print("perfbench: no bow_hunter_pipeline_spark package next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
