"""One workload run inside a fresh interpreter; started by ``run.py``.

Starts the engine's Spark session, runs the workload, reads the JVM's peak
memory, stops the session and writes the run's figures as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time

from stats import median, tail


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_nonheap_peak_mb(spark) -> float:
    """Sum of the peak used bytes of the JVM's non-heap pools: metaspace,
    compressed class space and the code cache. These grow with the classes
    Spark loads and generates and the code the JIT compiles. The heap pools
    are left out: G1 sizes them by GC pause times, so their peaks follow
    host timing more than the engine."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if str(p.getType().name()) == "NON_HEAP") / 2**20


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to others, summed over this host's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True, help="process start, epoch seconds")
    a = ap.parse_args(argv)

    from activecampaign_api_data_pipeline_spark.session import get_spark
    from workloads import WORKLOADS

    t = time.perf_counter()
    spark = get_spark("crmbench")
    startup_s = time.perf_counter() - t
    tracer = None
    steal = host_steal_s()
    try:
        if a.trace:
            from spans import Tracer

            tracer = Tracer(spark, f"{a.workload}-{a.seed}")
        res = WORKLOADS[a.workload](spark, a.seed, a.seconds, a.work, tracer, a.t0)
        if tracer is not None:
            tracer.close()
            res.layers.update(_stream_layers(tracer))
            res.layers["session.startup_s"] = startup_s
            res.layers["trace.wall_s"] = res.wall_s
            res.layers["trace.bookkeeping_s"] = tracer.totals().get("trace.bookkeeping", {}).get("s", 0.0)
            tracer.dump(os.path.join(a.work, "spans.json"))
        sc = spark.sparkContext
        attest = {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "cpu_count": os.cpu_count(),
            "nproc": len(os.sched_getaffinity(0)),
            "spark_version": spark.version,
            "python_version": platform.python_version(),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
        }
        peak_rss = jvm_peak_rss_mb(spark)
        nonheap = jvm_nonheap_peak_mb(spark)
    finally:
        stop_session(spark)

    tl = tail(res.op_s)
    out = {
        "end_to_end": {
            "setup_s": res.setup_s,
            "wall_s": res.wall_s,
            "op_p50_s": median(res.op_s),
            "op_tail_s": tl.value,
            "cpu_s": res.cpu_s,
            "jvm_nonheap_mb": nonheap,
        },
        "report": {
            **res.report,
            "failed_ratio": res.failed / max(1, res.attempted),
            "peak_rss_mb": peak_rss,
            "op_count": tl.n,
            "op_tail_percentile": tl.percentile,
            "op_tail_beyond": tl.beyond,
            "session_startup_s": startup_s,
            "host_steal_s": host_steal_s() - steal,
            **attest,
        },
        "layers": res.layers,
        "attempted": res.attempted,
        "failed": res.failed,
        "problems": res.problems,
    }
    with open(a.out, "w") as f:
        json.dump(out, f)
    return 0


def _stream_layers(tracer) -> dict[str, float]:
    trig = tracer.triggers
    n = len(trig)

    def total(key: str) -> float:
        return sum(t.get(key, 0.0) for t in trig)

    return {
        "streaming.triggers": n,
        "streaming.trigger_p50_ms": median([t.get("triggerExecution", 0.0) for t in trig]),
        "streaming.addBatch_ms": total("addBatch"),
        "streaming.walCommit_ms": total("walCommit"),
        "streaming.commitOffsets_ms": total("commitOffsets"),
        "streaming.queryPlanning_ms": total("queryPlanning"),
        "streaming.latestOffset_ms": total("latestOffset"),
        "streaming.jobs_per_trigger": tracer.stream_jobs() / n if n else 0.0,
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
