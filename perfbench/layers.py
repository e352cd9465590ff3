"""The traced run: spans, Spark event-log metrics and kernel step times.

Spans are recorded here, around the benchmark's own calls into each layer;
nothing inside the program is instrumented.  Each span's id becomes the
Spark job group before its call, so every job, stage and task in the event
log belongs to exactly one span.  Spans stay in memory and are written to
``perfbench/.out/spans-<workload>-seed<n>.json`` when the run ends.

A layer that wraps another (run_pipeline around extract_docs around the
scan) is measured as a cumulative ladder: each rung runs the same input to
a ``noop`` sink with one more layer on top, the lower rung is recorded as
the upper rung's child, and self time is duration minus children.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import functions as F

from pdf_extraction_tests_spark import extract_core as ec, pipeline, tables
from pdf_extraction_tests_spark.functions import bpe
from pdf_extraction_tests_spark.operators import dedup, text_analysis

from .workloads import (LSH_BANDS, LSH_ROWS, MAX_DF, MINHASH_K, SHINGLE_N,
                        JACCARD, noop, start_session, timed_loop)

# operators run on at most this many extracted docs: near-duplicate
# search grows faster than linearly in the doc count
OPERATOR_DOCS = 150

# kernel step -> the public extract_core functions it covers
KERNEL_STEPS = {
    "spans_to_regions": ["spans_to_regions"],
    "filter_regions": ["filter_regions"],
    "reading_order": ["reading_order"],
    "detect_format": ["detect_document_format", "detect_band_format"],
    "front_matter": ["extract_title", "extract_authors", "extract_abstract",
                     "extract_abstract_banded"],
    "strip_boilerplate": ["strip_boilerplate"],
    "scan_boundaries": ["scan_boundaries", "scan_boundaries_elsevier",
                        "lookahead_end_scan"],
    "clean_text": ["clean_text", "dedupe_sentences", "clean_author_list"],
}


class Tracer:
    """In-memory spans; the innermost open span is the Spark job group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: dict | None = None):
        if parent is None and self._stack:
            parent = self._stack[-1]
        s = {"id": f"s{len(self.spans):03d}-{name}", "name": name,
             "parent": parent["id"] if parent else None,
             "start": time.time()}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["id"], name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            s["duration_s"] = s["end"] - s["start"]
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def by_name(self, name: str) -> dict:
        return next(s for s in reversed(self.spans) if s["name"] == name)

    def self_time(self, name: str) -> float:
        s = self.by_name(name)
        kids = sum(c["duration_s"] for c in self.spans if c["parent"] == s["id"])
        return s["duration_s"] - kids


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PY_ACCUM = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "python_sent",
    "data returned from Python workers": "python_returned",
}


def _event_lines(log_dir: Path):
    """Every event of the one application logged under ``log_dir``; Spark 4
    writes a rolling log, a directory of ``events_<n>_<app>`` files."""
    paths = sorted(glob.glob(str(log_dir / "*" / "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path) as f:
            yield from f


def read_event_log(log_dir: Path) -> dict[str, list[dict]]:
    """job group -> its finished tasks, each a flat dict of metrics."""
    stage_group: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            t = {
                "stage": ev["Stage ID"],
                "failed": bool(info.get("Failed")),
                "duration_ms": info["Finish Time"] - info["Launch Time"],
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "shuffle_read": sum((m.get("Shuffle Read Metrics") or {}).get(k, 0)
                                    for k in ("Remote Bytes Read", "Local Bytes Read")),
                "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            }
            for acc in info.get("Accumulables", []):
                key = _PY_ACCUM.get(acc.get("Name"))
                if key:
                    t[key] = t.get(key, 0) + int(acc.get("Update") or 0)
            tasks.setdefault(group, []).append(t)
    return tasks


def rollup(tasks: list[dict]) -> dict:
    """Sums over a span's tasks, plus its worst stage's straggler ratio
    (max over median task time, stages with at least two tasks)."""
    tot = {k: sum(t.get(k, 0) for t in tasks) for k in (
        "run_ms", "cpu_ns", "gc_ms", "spill", "shuffle_write", "shuffle_read",
        "input_bytes", "output_bytes", *_PY_ACCUM.values())}
    stages: dict[int, list[int]] = {}
    for t in tasks:
        stages.setdefault(t["stage"], []).append(t["duration_ms"])
    ratios = [max(d) / max(statistics.median(d), 1) for d in stages.values() if len(d) > 1]
    tot["straggler_ratio"] = max(ratios, default=1.0)
    tot["tasks"] = len(tasks)
    tot["failures"] = sum(t["failed"] for t in tasks)
    return tot


# ---------------------------------------------------------------------------
# extract_core, in this process
# ---------------------------------------------------------------------------


def kernel_steps(frame) -> tuple[float, dict[str, float], int]:
    """Kernel wall on ``frame`` unwrapped, then per-step self times from a
    second pass with each step's public functions wrapped."""
    t0 = time.perf_counter()
    out = ec.extract_docs_frame(frame)
    kernel_s = time.perf_counter() - t0
    acc = {step: 0.0 for step in KERNEL_STEPS}
    stack: list[float] = []  # child time accumulated per open frame

    def wrap(step, fn):
        @functools.wraps(fn)
        def inner(*a, **kw):
            stack.append(0.0)
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                el = time.perf_counter() - t
                child = stack.pop()
                acc[step] += el - child
                if stack:
                    stack[-1] += el
        return inner

    originals = {}
    for step, names in KERNEL_STEPS.items():
        for n in names:
            originals[n] = getattr(ec, n)
            setattr(ec, n, wrap(step, originals[n]))
    try:
        t0 = time.perf_counter()
        ec.extract_docs_frame(frame)
        wrapped_s = time.perf_counter() - t0
    finally:
        for n, fn in originals.items():
            setattr(ec, n, fn)
    acc["other"] = wrapped_s - sum(acc.values())
    return kernel_s, acc, int(out["parse_failures"].sum())


def _exact_jaccard(a: str, b: str, n: int) -> float:
    def sh(t):
        w = t.split(" ")
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}
    sa, sb = sh(a), sh(b)
    return len(sa & sb) / max(len(sa | sb), 1)


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------


def _restart_with_event_log(spark, log_dir: Path):
    """Stop the untraced session and start a traced one in the same JVM.
    Event logging is read from JVM system properties when a context starts."""
    log_dir.mkdir(parents=True, exist_ok=True)
    system = spark._jvm.java.lang.System
    for k, v in {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": log_dir.as_uri(),
                 "spark.eventLog.compress": "false"}.items():
        system.setProperty(k, v)
    spark.stop()
    return start_session()


def traced_run(spark, wl, args, work: Path, out_dir: Path, setup: dict,
               untraced_rates: list[float]):
    """Returns (the traced session, results).  ``wl`` has run its untraced
    timed loop in ``spark`` already."""
    old_sc = spark.sparkContext  # keep alive: the package keys shipping by id(sc)
    spark = _restart_with_event_log(spark, work / "eventlog")
    sc = spark.sparkContext
    tr = Tracer(sc)
    wl.configure(spark)
    # the JVM is warm already; one call restarts the Python workers
    with tr.span("setup.warmup_traced"):
        wl.call(spark, "warm")
    with tr.span("timed"):
        loop = timed_loop(spark, wl, args.seconds, 2)
    traced_rate = statistics.median(wl.n_docs / w for w in loop["walls"])

    c = wl.corpus
    big = c.oversize_ids()
    docs = wl.docs(spark)
    out = str(work / "out" / "ladder")
    # cumulative ladder, run top rung first; each lower rung is the child
    with tr.span("pipeline.run_pipeline") as top:
        pipeline.run_pipeline(spark, docs, out)
    with tr.span("pipeline.extract_docs", parent=top) as mid:
        noop(pipeline.extract_docs(docs))
    with tr.span("pipeline.scan", parent=mid):
        noop(pipeline.with_part_key(docs))
    keyed = pipeline.with_part_key(docs)
    with tr.span("pipeline.extract_direct"):
        noop(pipeline.extract_direct(keyed.filter(~F.col("doc_id").isin(big))))
    with tr.span("pipeline.extract_chunked"):
        noop(pipeline.extract_chunked(keyed.filter(F.col("doc_id").isin(big))))
    with tr.span("pipeline.read_extracted"):
        noop(pipeline.read_extracted(spark, out))

    frame = spark.read.parquet(f"{out}/extracted").cache()
    frame.count()
    with tr.span("tables.write_table"):
        tables.write_table(frame, str(work / "tables_write"), mode="overwrite")
    frame.unpersist()
    files_written = len(glob.glob(str(work / "tables_write" / "*.parquet")))

    # a filter, not a limit: a limit collapses the frame to one partition,
    # and the operators' shuffles would plan away
    sample = sorted(c.doc_ids)[:OPERATOR_DOCS]
    texts = (pipeline.read_extracted(spark, out)
             .select("doc_id", F.col("main_text").alias("text"))
             .filter(F.col("text").isNotNull() & F.col("doc_id").isin(sample))
             .cache())
    text_map = {r.doc_id: r.text for r in texts.collect()}
    sig = dedup.minhash_signatures(texts, MINHASH_K, SHINGLE_N)
    ops = {
        "operators.language_guess": lambda: text_analysis.with_language_guess(texts),
        "operators.quality_score": lambda: text_analysis.with_quality_score(texts),
        "operators.exact_dedup": lambda: dedup.exact_dedup(texts),
        "operators.minhash": lambda: sig,
        "operators.jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(
            texts, SHINGLE_N, JACCARD, MAX_DF),
        "functions.bpe.token_count": lambda: texts.select(
            bpe.token_count_col("text", "bpe")),
    }
    for name, make in ops.items():
        with tr.span(name):
            noop(make())
    lsh = dedup.lsh_candidate_pairs(sig, LSH_BANDS, LSH_ROWS)
    with tr.span("operators.lsh_pairs"):  # includes computing its signatures
        noop(lsh)
    pairs = [(r.doc_a, r.doc_b) for r in lsh.collect()]
    texts.unpersist()
    confirmed = sum(_exact_jaccard(text_map[a], text_map[b], SHINGLE_N) >= JACCARD
                    for a, b in pairs)

    small = c.frame()
    small = small[~small["doc_id"].isin(big)]
    with tr.span("extract_core.kernel"):
        kernel_s, steps, parse_failures = kernel_steps(small)

    spark.stop()  # closes the event log
    del old_sc  # the traced context is done; the old one may go now
    groups = read_event_log(work / "eventlog")
    for s in tr.spans:
        s["spark"] = rollup(groups.get(s["id"], []))

    def sp(name):
        return tr.by_name(name)["spark"]

    run = sp("pipeline.run_pipeline")
    direct = sp("pipeline.extract_direct")
    op_names = [*ops, "operators.lsh_pairs"]
    op_roll = rollup([t for n in op_names for t in groups.get(tr.by_name(n)["id"], [])])
    warm = sp("setup.warmup_traced")
    all_tasks = rollup([t for g in groups.values() for t in g])
    untraced_rate = statistics.median(untraced_rates)

    m = {
        "pipeline.task_s": (run["run_ms"] / 1e3, "s"),
        "pipeline.jvm_cpu_s": (run["cpu_ns"] / 1e9, "s"),
        "pipeline.gc_s": (run["gc_ms"] / 1e3, "s"),
        "pipeline.python_run_s": (run["python_run_ms"] / 1e3, "s"),
        "pipeline.python_bytes_sent": (run["python_sent"], "bytes"),
        "pipeline.python_bytes_returned": (run["python_returned"], "bytes"),
        "pipeline.python_start_s": (warm["python_start_ms"] / 1e3, "s"),
        "pipeline.boundary_s": (direct["run_ms"] / 1e3 - kernel_s, "s"),
        "pipeline.straggler_ratio": (run["straggler_ratio"], "ratio"),
        "pipeline.shuffle_write_bytes": (run["shuffle_write"], "bytes"),
        "pipeline.shuffle_read_bytes": (run["shuffle_read"], "bytes"),
        "pipeline.spill_bytes": (run["spill"], "bytes"),
        "pipeline.extract_chunked_s": (tr.self_time("pipeline.extract_chunked"), "s"),
        "pipeline.scan_s": (tr.self_time("pipeline.scan"), "s"),
        "pipeline.extract_docs_s": (tr.self_time("pipeline.extract_docs"), "s"),
        "pipeline.extract_direct_s": (tr.by_name("pipeline.extract_direct")["duration_s"]
                                      - tr.by_name("pipeline.scan")["duration_s"], "s"),
        "pipeline.sink_s": (tr.self_time("pipeline.run_pipeline"), "s"),
        "pipeline.oversize_docs": (len(big), "count"),
        "pipeline.tasks": (run["tasks"], "count"),
        "pipeline.task_failures": (all_tasks["failures"], "count"),
        "pipeline.read_extracted_s": (tr.self_time("pipeline.read_extracted"), "s"),
        "extract_core.kernel_s": (kernel_s, "s"),
        "extract_core.docs_per_s": (len(small) / kernel_s, "docs/s"),
        **{f"extract_core.{k}_s": (v, "s") for k, v in steps.items()},
        "extract_core.parse_failures": (parse_failures, "count"),
        "tables.write_s": (tr.self_time("tables.write_table"), "s"),
        "tables.bytes_written": (sp("tables.write_table")["output_bytes"], "bytes"),
        "tables.files_written": (files_written, "count"),
        "tables.bytes_read": (sp("pipeline.read_extracted")["input_bytes"], "bytes"),
        **{f"{n}_s": (tr.self_time(n), "s") for n in op_names},
        "operators.lsh_candidates": (len(pairs), "count"),
        "operators.lsh_precision": (confirmed / max(len(pairs), 1), "ratio"),
        "operators.shuffle_bytes": (op_roll["shuffle_write"], "bytes"),
        "operators.straggler_ratio": (op_roll["straggler_ratio"], "ratio"),
        "operators.python_run_s": (op_roll["python_run_ms"] / 1e3, "s"),
        "setup.session_s": (setup["session_s"], "s"),
        "setup.corpus_s": (setup["corpus_s"], "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "trace.overhead": (1 - traced_rate / untraced_rate, "ratio"),
    }
    ladder = (m["pipeline.scan_s"][0] + m["pipeline.extract_docs_s"][0]
              + m["pipeline.sink_s"][0])
    untraced_wall = wl.n_docs / untraced_rate
    out_dir.mkdir(parents=True, exist_ok=True)
    span_file = out_dir / f"spans-{args.workload}-seed{args.seed}.json"
    span_file.write_text(json.dumps(tr.spans, indent=1))
    detail = {
        "span_file": str(span_file.relative_to(out_dir.parent.parent)),
        "ladder_s": ladder, "untraced_call_s": untraced_wall,
        "ladder_over_untraced": ladder / untraced_wall,
        # the traced calls run later in the same JVM, so JIT warm-up makes
        # them faster than the untraced ones; this is the like-for-like sum
        "ladder_over_traced": ladder * traced_rate / wl.n_docs,
        "lsh_precision_base": len(pairs),
        "traced_docs_per_s": traced_rate, "untraced_docs_per_s": untraced_rate,
    }
    return spark, {"metrics": m, "loop": loop, "detail": detail}
