"""Benchmark of the KG engine: one command per workload.

    python3 perfbench/run.py --workload kg_ingest --seed 1 --seconds 5 --trace 0

prints each figure of the run on its own line and, as the last line of
stdout, one JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Run from the root of a checkout; it writes only under .perfbench_work/.

    python3 perfbench/run.py --spread 10 --workload kg_ingest --seed 1 --seconds 5

runs the workload in 10 fresh processes (seeds 1..10) and prints each
metric's median, quartiles and relative spread, with the 1-minute load
average before each run.

See perfbench/README.md for the workloads, metrics and the layer map.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("kg_ingest", "kg_analytics")


def _workload_class(name: str):
    if name == "kg_ingest":
        from perfbench.kg_ingest import KgIngest
        return KgIngest
    from perfbench.kg_analytics import KgAnalytics
    return KgAnalytics


def per_layer(w, roll, root, overhead_s: float) -> dict[str, tuple[float, str]]:
    """Engine-layer figures of the traced body (the root span's subtree):
    Python workers, JVM tasks, shuffle, spill, storage and the driver-only
    time when no task ran."""
    spans = w.tracer.subtree(root)
    m = roll.of(spans)
    busy = roll.busy_seconds(root.start, root.end)
    top = sum(s.wall for s in w.tracer.children(root))
    return {
        "jobs": (m["jobs"], "count"),
        "tasks": (m["tasks"], "count"),
        "task_run_s": (m["run_s"], "s"),
        "task_cpu_s": (m["cpu_s"], "s"),
        "python_s": (m["python_s"], "s"),
        "python_sent_mb": (m["python_sent_mb"], "MB"),
        "gc_s": (m["gc_s"], "s"),
        "shuffle_write_mb": (m["shuffle_write_mb"], "MB"),
        "shuffle_read_mb": (m["shuffle_read_mb"], "MB"),
        "spill_mb": (m["memory_spill_mb"] + m["disk_spill_mb"], "MB"),
        "input_mb": (m["input_mb"], "MB"),
        "output_mb": (m["output_mb"], "MB"),
        "driver_only_s": (root.wall - busy, "s"),
        "traced_wall_s": (root.wall, "s"),
        "trace_overhead_s": (overhead_s, "s"),
        "unattributed_s": (root.wall - top, "s"),
    }


def run_once(args) -> int:
    if not os.path.isdir(os.path.join(harness.ROOT, "docprocai_service_spark")):
        print("perfbench: docprocai_service_spark not found beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(harness.WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    harness.prepare_environment(run_dir)
    from perfbench.trace import Tracer, rollup

    try:
        with harness.RssSampler() as rss:
            spark = harness.start_spark(run_dir, event_log=bool(args.trace))
            session_s = time.perf_counter() - T_START
            try:
                w = _workload_class(args.workload)(
                    spark, Tracer(spark, tag_jobs=bool(args.trace)),
                    args.seed, args.seconds, run_dir,
                )
                w.setup()
                setup_s = time.perf_counter() - T_START
                if args.trace:
                    root, overhead_s = w.traced_body()
                else:
                    w.body()
                w.check()
            finally:
                harness.stop_spark(spark)
            harness.reap_descendants()
        print(f"{args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
        if args.trace:
            roll = rollup(os.path.join(run_dir, "eventlog"))
            metrics = per_layer(w, roll, root, overhead_s)
            w.layer_details(roll, root)
        else:
            metrics = {"setup_s": (setup_s, "s"), **w.end_to_end(),
                       "peak_rss_mb": (rss.peak_mb, "MB")}
        w.details.insert(0, ("session_s", session_s, "s", "interpreter and Spark session start"))
        error_rate = w.failed / max(w.attempted, 1)
        w.details.append(("error_rate", error_rate, "ratio", f"{w.failed}/{w.attempted} operations"))
        for name, value, unit, note in w.details:
            harness.detail(name, value, unit, note)
        for name, (value, unit) in metrics.items():
            harness.detail(name, value, unit)
        harness.emit(w.failed == 0, w.attempted, w.failed, metrics)
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def spread(args) -> int:
    """Run the workload `args.spread` times in fresh processes, one seed each,
    and print median, quartiles and (Q3-Q1)/median per metric. The 1-minute
    load average before each run and the CPU steal share during it are
    printed as context: the host is shared."""
    values: dict[str, list[float]] = {}
    for k in range(args.spread):
        seed = args.seed + k
        load = os.getloadavg()[0]
        steal0, total0 = _cpu_ticks()
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t0 = time.time()
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        wall = time.time() - t0
        steal1, total1 = _cpu_ticks()
        steal = (steal1 - steal0) / max(total1 - total0, 1)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-3000:]}", flush=True)
            return 1
        doc = json.loads(last)
        print(f"seed {seed}: load1 {load:.2f} steal {steal:.1%} wall {wall:.1f}s "
              f"correct {doc['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in doc["metrics"].items()), flush=True)
        for k, v in doc["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        rel = (q3 - q1) / med if med else float("nan")
        print(f"{k}: median {med:.6g} q1 {q1:.6g} q3 {q3:.6g} spread {rel:.4f}")
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spread", type=int, default=0,
                   help="run N times with seeds seed..seed+N-1 and report spreads")
    args = p.parse_args()
    if args.seed < 0 or args.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return spread(args) if args.spread else run_once(args)


if __name__ == "__main__":
    sys.exit(main())
