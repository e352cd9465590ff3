"""One benchmark run: set up, measure, check, and shut everything down."""

from __future__ import annotations

import json
import os
import signal
import statistics
import time
from pathlib import Path

from . import host
from .workloads import MASTER, WORKLOADS, start_session, timed_loop


def _shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, then any process left
    below this one; return only when all of them have exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = host.descendants()
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for _ in range(100):
            if not host.descendants():
                return
            time.sleep(0.1)


def _check_names(spec_path: Path, trace: int, metrics: dict) -> None:
    """The emitted metrics must be exactly those BENCHMARK.json declares
    for this mode, with the declared units."""
    spec = json.loads(spec_path.read_text())
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {name: unit for name, (_, unit) in metrics.items()}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))
        raise RuntimeError(f"metrics differ from {spec_path.name}: {diff}")


def run(args, work: Path, out_dir: Path, spec_path: Path) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](str(work), args.seed)
    spark = start_session()
    session_s = time.perf_counter() - t0
    try:
        wl.generate()
        wl.setup(spark)
        setup = {"session_s": session_s, **wl.setup_parts}
        wl.build_oracle()
        with host.ProcSampler() as sampler:
            # a traced run needs this loop only as trace.overhead's base
            loop = timed_loop(spark, wl, args.seconds, 3 if args.trace else wl.min_calls)
        rates = [wl.n_docs / w for w in loop["walls"]]
        cpu_ms = [1e3 * c / wl.n_docs for c in loop["cpus"]]
        # each call's CPU scaled to the probe's reference speed
        ref_ms = [c * host.PROBE_REF_S / sum(p) for c, p in zip(cpu_ms, loop["probes"])]
        traced = None
        if args.trace:
            from . import layers

            spark, traced = layers.traced_run(spark, wl, args, work, out_dir,
                                              setup, rates)
            more = traced["loop"]
            loop["attempted"] += more["attempted"]
            loop["failed"] += more["failed"]
            loop["mismatch_docs"] = max(loop["mismatch_docs"], more["mismatch_docs"])
    finally:
        _shutdown(spark)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {"nproc": os.cpu_count(), "master": MASTER, **sampler.context()},
        "docs": wl.n_docs,
        "docs_per_s": statistics.median(rates),
        "docs_per_s_samples": [round(r, 3) for r in rates],
        "cpu_ms_per_doc": statistics.median(cpu_ms),
        "cpu_ms_per_doc_samples": [round(c, 4) for c in cpu_ms],
        "jit_ms_per_doc_samples": [round(1e3 * j / wl.n_docs, 4)
                                   for j in loop["jits"]],
        "probe_ms_samples": [[round(1e3 * x, 4) for x in p] for p in loop["probes"]],
        "mismatch_docs": loop["mismatch_docs"],
        "error_rate": loop["failed"] / loop["attempted"],
        "setup_parts_s": {k: round(v, 4) for k, v in setup.items()},
    }
    if traced is None:
        metrics = {
            "setup_s": (sum(setup.values()), "s"),
            "ref_cpu_ms_per_doc": (statistics.median(ref_ms), "ms"),
            "peak_rss_mb": (sampler.peak_rss / 2**20, "MB"),
        }
    else:
        metrics = traced["metrics"]
        detail["trace"] = traced["detail"]
    _check_names(spec_path, args.trace, metrics)
    result = {
        "correct": loop["failed"] == 0 and loop["mismatch_docs"] == 0,
        "attempted": loop["attempted"],
        "failed": loop["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result
