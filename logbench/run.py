"""Repo benchmark: one seeded, closed-loop workload per invocation.

    python3 logbench/run.py --workload batch_flagship --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.logbench/work/`` (keyed by workload, seed and input
size), starts a ``local[nproc]`` session, sets up (session, inputs,
materialization, warm-up), then runs operations back to back for
``--seconds``, checking every output against a reference. It prints a
readable report and, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The full report and the spans of a traced run are written to
``.logbench/reports/``. See NOTES.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
REQUIRED = ("opentelemetry_log_collection_spark/__init__.py", "bench.py",
            "__spark_entry__.py")
WORKLOAD_NAMES = ("batch_flagship", "resume_job", "dedup_corpus")

#: disk-probe size: enough to see a stalled disk, small enough to keep
#: the probe well under a second
PROBE_MB = 16

#: end-to-end metrics emitted on every workload (BENCHMARK.json end_to_end)
E2E_UNITS = {"setup_s": "s", "items_per_s": "items/s", "peak_rss_mb": "MB"}

#: the named end-to-end metrics and the workloads they apply to
NAMED = {
    "setup_s": WORKLOAD_NAMES,
    "batch_turns_per_s": ("batch_flagship",),
    "batch_first_run_s": ("batch_flagship",),
    # the single-core run and the stream drain run in traced runs
    "scaling_efficiency": ("batch_flagship",),
    "job_turns_per_s": ("resume_job",),
    "resume_s": ("resume_job",),
    "stream_turns_per_s": ("batch_flagship",),
    "microbatch_p50_ms": ("batch_flagship",),
    "microbatch_tail_ms": ("batch_flagship",),
    "dedup_docs_per_s": ("dedup_corpus",),
    "output_bytes_per_turn": ("batch_flagship", "resume_job"),
    "peak_rss_mb": WORKLOAD_NAMES,
    "failed_share": WORKLOAD_NAMES,
}


def layer_unit(key: str) -> str:
    if key.endswith("_ms"):
        return "ms"
    if key.endswith("_s") or ".bucket_s." in key:
        return "s"
    if "bytes" in key:
        return "B"
    if key.endswith(("amplification", "skew", "per_candidate")):
        return "ratio"
    return "count"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the driver launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(REPO, f))]
    if missing:
        print(f"logbench: not a checkout of the engine (missing {missing})",
              file=sys.stderr)
        return 2

    from workloads import input_key

    # keyed by workload, seed and input size; the pid keeps two runs of
    # the same key from sharing (and wiping) one directory
    work = os.path.join(
        REPO, ".logbench", "work",
        f"{args.workload}-seed{args.seed}-{input_key(args.workload)}-{os.getpid()}")
    reports = os.path.join(REPO, ".logbench", "reports")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(reports, exist_ok=True)
    # the transcript cache trusts any existing _SUCCESS under its key, so
    # it lives inside this run's seed-keyed directory
    os.environ["SPARK_GRAFT_TCACHE"] = os.path.join(work, "tcache")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # a small input needs far less than the session's 8g default heap;
    # a capped heap keeps the run small on a shared host
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    tempfile.tempdir = tmp
    sys.path[:0] = [REPO, HERE]

    from bench import cpu_probe, disk_probe  # unchanged host probes
    from tracing import Tracer, peak_rss_mb
    from workloads import LAYER_KEYS, WORKLOADS, start_session

    nproc = len(os.sched_getaffinity(0))
    probes = {"cpu_before_s": cpu_probe(), "disk_before": disk_probe(PROBE_MB)}
    tracer = Tracer(bool(args.trace))

    t_setup = time.perf_counter()
    spark = start_session(f"local[{nproc}]", nproc, work)
    session_s = time.perf_counter() - t_setup
    wl = WORKLOADS[args.workload](spark, work, args.seed, nproc, tracer)
    wl.layers["session.start_s"] = session_s
    try:
        wl.setup()
        setup_s = time.perf_counter() - t_setup

        # Closed loop, one client. A traced run alternates untraced and
        # traced operations in ABBA order, which cancels a linear drift,
        # to measure the tracing overhead in-run. The window counts
        # operation time, not the reference checks between operations.
        measured, i = 0.0, 0
        while measured < args.seconds or i < 1 + args.trace:
            t0 = time.perf_counter()
            wall = wl.run_op(bool(args.trace) and i % 4 in (1, 2))
            measured += wall if wall is not None else time.perf_counter() - t0
            i += 1
        if args.trace:
            wl.trace_layers()
            wl.finish_layers()
        wl.end_to_end()
        rss = peak_rss_mb()
    finally:
        stop_spark(wl.spark)
        probes["cpu_after_s"] = cpu_probe()
        probes["disk_after"] = disk_probe(PROBE_MB)
        shutil.rmtree(work, ignore_errors=True)
    cpu = (probes["cpu_before_s"], probes["cpu_after_s"])
    probes["contended"] = max(cpu) > 1.3 * min(cpu)

    failed_share = wl.failed / max(1, wl.attempted)
    named = dict(wl.e2e)
    named["setup_s"] = (setup_s, "s")
    named["peak_rss_mb"] = (rss, "MB")
    named["failed_share"] = (failed_share, "ratio")
    e2e = {"setup_s": setup_s, "items_per_s": wl.items_per_s(), "peak_rss_mb": rss}

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    print(f"# {args.workload} seed={args.seed} local[{nproc}] "
          f"{wl.n_items} {wl.unit}, {args.seconds:g}s window, trace={args.trace}")
    for name, where in NAMED.items():
        if args.workload not in where:
            print(f"{name:24s} n/a on this workload")
        elif name in named:
            v, unit = named[name]
            print(f"{name:24s} {v:.6g} {unit}")
        else:
            print(f"{name:24s} not measured in this run")
    if args.trace:
        for k in LAYER_KEYS:
            print(f"{k:34s} {wl.layers[k]:.6g} {layer_unit(k)}")
    print(f"probes: {json.dumps(probes)}")
    for err in wl.errors:
        print(f"error: {err}")

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "items": wl.n_items, "unit": wl.unit,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "layers": wl.layers, "op_walls": {str(k): v for k, v in wl.walls.items()},
        "probes": probes, "errors": wl.errors,
        "attempted": wl.attempted, "failed": wl.failed,
    }
    with open(os.path.join(reports, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    if args.trace:
        tracer.write(os.path.join(reports, f"{tag}-spans.json"))

    if args.trace:
        metrics = {k: {"value": wl.layers[k], "unit": layer_unit(k)} for k in LAYER_KEYS}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
