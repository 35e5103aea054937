"""Benchmark entry point: one workload run, one JSON result line.

    python3 crmbench/run.py --workload crm_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run gets its own work directory under
``.crmbench_work/`` (temp dir, Spark local dirs, lake and generated inputs),
which is also the worker's current directory so nothing lands in the source
tree, and which is deleted afterwards. The worker runs in its own process
group; the group is stopped and waited for before this script exits.

A traced run leaves its spans in ``.crmbench_traces/<workload>-<seed>.json``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
the ``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. The line before it is the full
report: workload-specific figures, the tail percentile and sample count,
failures, and the host and Spark attestation.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "activecampaign_api_data_pipeline_spark"
WORKLOADS = ("crm_ingest", "query_stream_mix")
#: where a traced run leaves its spans
TRACES = os.path.join(ROOT, ".crmbench_traces")
RUN_TIMEOUT_S = 170
PR_SET_PDEATHSIG = 1
DRIVER_MEMORY = "2g"


def _wait_group_gone(pgid: int, timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return True
        time.sleep(0.1)
    return False


def _stop_group(pgid: int) -> None:
    """TERM, then KILL, every process left in the worker's group, and wait."""
    for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if _wait_group_gone(pgid, grace):
            return


def _die_with_parent() -> None:
    """In the worker, before exec: get SIGTERM if this script dies, even by
    SIGKILL, so the worker and the JVM under it never outlive the run."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGTERM)


def _exit_on_term(signum, frame):
    raise SystemExit(128 + signum)  # runs the cleanup in ``finally`` blocks


def main(argv: list[str]) -> int:
    t0 = time.time()
    signal.signal(signal.SIGTERM, _exit_on_term)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"crmbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    base = os.path.join(ROOT, ".crmbench_work")
    work = os.path.join(base, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join([ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "PYTHONHASHSEED": "0",
        # JVM scratch stays in the run's temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    out_path = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--out", out_path, "--t0", repr(t0)]
    try:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True,
                                preexec_fn=_die_with_parent)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
            print(f"crmbench: worker exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        finally:
            _stop_group(proc.pid)
            proc.wait()
        if rc != 0 or not os.path.exists(out_path):
            print(f"crmbench: worker failed (exit {rc})", file=sys.stderr)
            return 1
        with open(out_path) as f:
            res = json.load(f)
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            os.makedirs(TRACES, exist_ok=True)
            shutil.move(spans, os.path.join(TRACES, f"{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still owns a work dir

    values = res["layers"] if a.trace else res["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    for p in res["problems"]:
        print(f"crmbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      **res["end_to_end"], **res["report"],
                      **({"layers": res["layers"]} if a.trace else {})}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
