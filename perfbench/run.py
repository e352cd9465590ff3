"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_batch --seed 1 --seconds 12 --trace 0

Run from the repository root.  Generates the workload's seeded inputs,
sets the program up, runs timed calls for ``--seconds`` and checks every
output for exactness.  The last stdout line is one JSON object; the line
before it carries host context and per-run detail.  ``--trace 1`` reports
the per-layer metrics instead of the end-to-end ones (see README.md).

Everything the run writes stays under ``perfbench/.work`` (removed at the
end) and ``perfbench/.out`` (span files).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = ROOT / "perfbench"
WORKLOAD_NAMES = ("extract_batch", "extract_skewed", "curate")


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _confine(work: Path) -> None:
    """Point every temp and scratch location of Python, the JVM and Spark
    into ``work`` before anything starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        # compiler threads that never exit keep the JIT's CPU time readable
        # per thread, so ref_cpu_ms_per_doc can leave it out (host.jit_cpu_s)
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                             "-XX:-UseDynamicNumberOfCompilerThreads",
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        # the session factory sizes shuffles from this; two task slots
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    tempfile.tempdir = None


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not (ROOT / "pdf_extraction_tests_spark" / "__init__.py").is_file():
        print(f"package pdf_extraction_tests_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    work = HERE / ".work" / f"run-{os.getpid()}"
    _confine(work)
    sys.path.insert(0, str(ROOT))
    try:
        from perfbench import measure

        detail, result = measure.run(args, work, HERE / ".out",
                                     ROOT / "BENCHMARK.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
