"""The three workloads: set-up, the timed call, and the exactness check.

Every workload runs at ``local[2]`` in one Python process.  A timed call is
one closed-loop request from the benchmark to the package's public API,
timed from the call to its committed result.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from pathlib import Path

import duckdb
from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_extraction_tests_spark import extract_core as ec, pipeline
from pdf_extraction_tests_spark.functions import bpe
from pdf_extraction_tests_spark.operators import dedup, text_analysis
from pdf_extraction_tests_spark.queries import oracle_sql
from pdf_extraction_tests_spark.session import get_spark

from . import host, inputs

MASTER = "local[2]"
# 8 small files estimate as >= 2x parallelism only with a small split size
# (Spark's 128 MB default suits real data, not a few MB of test corpus)
BATCH_SPLIT_BYTES = "96k"
CORPUS_REPS = 3
# dedup parameters: the ones the q23/q24 DuckDB oracles are written for
MINHASH_K, SHINGLE_N, LSH_BANDS, LSH_ROWS = 6, 3, 3, 2
JACCARD, MAX_DF = 0.8, 50
_SCALARS = ["title", "authors", "abstract", "main_text", "boundary_start",
            "boundary_end", "document_format", "total_pages",
            "total_text_regions", "parse_failures"]


def start_session() -> SparkSession:
    spark = get_spark("perfbench", master=MASTER)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def canonical(doc: dict) -> tuple:
    """The compared identity of one extracted doc: the exact span sequence
    ``(kind, text, media_ref, order)`` plus every scalar field."""
    spans = tuple((s["kind"], s["text"], s["media_ref"], int(s["order"]))
                  for s in (doc["spans"] or []))
    return (spans, *(int(doc[c]) if isinstance(doc[c], (int, float)) else doc[c]
                     for c in _SCALARS))


class Workload:
    """Shared set-up: generate, land and scan the seeded corpus."""

    name = ""
    # the timed loop runs at least this many calls
    min_calls = 5

    def __init__(self, ws: str, seed: int):
        self.ws, self.seed = ws, seed
        self.shape = inputs.SHAPES[self.name]
        self.input_dir = os.path.join(ws, "input")
        self.corpus: inputs.Corpus | None = None
        self.setup_parts: dict[str, float] = {}
        self._calls = 0

    def generate(self) -> None:
        """Build and land the corpus CORPUS_REPS times; keep the median
        time.  Every repetition must land byte-identical files."""
        times, digests = [], set()
        for rep in range(CORPUS_REPS):
            out = os.path.join(self.ws, f"gen{rep}")
            t0 = time.perf_counter()
            c = inputs.make_corpus(self.seed, self.name)
            inputs.write_corpus(c, out, self.shape.files)
            times.append(time.perf_counter() - t0)
            digests.add(tuple(Path(out, f).read_bytes() for f in sorted(os.listdir(out))))
            self.corpus = c
        if len(digests) != 1:
            raise RuntimeError("corpus generation is not deterministic")
        os.replace(os.path.join(self.ws, "gen0"), self.input_dir)
        for rep in range(1, CORPUS_REPS):
            shutil.rmtree(os.path.join(self.ws, f"gen{rep}"))
        self.setup_parts["corpus_s"] = statistics.median(times)

    def configure(self, spark: SparkSession) -> None:
        key = "spark.sql.files.maxPartitionBytes"
        if self.shape.files > 1:
            spark.conf.set(key, BATCH_SPLIT_BYTES)
        else:
            spark.conf.unset(key)

    def docs(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.input_dir)

    def out_dir(self, tag: str) -> str:
        self._calls += 1
        return os.path.join(self.ws, "out", f"{tag}-{self._calls}")

    @property
    def n_docs(self) -> int:
        return len(self.corpus.doc_ids)


class ExtractWorkload(Workload):
    """Timed call: ``pipeline.run_pipeline`` over the landed corpus."""

    def __init__(self, ws: str, seed: int):
        super().__init__(ws, seed)
        self.oracle: dict[str, tuple] = {}

    def setup(self, spark: SparkSession) -> None:
        self.configure(spark)
        # extract_docs' auto mode must take the path this workload is for:
        # fused onto the scan for many files, the part_key repartition for one
        fused = (pipeline.estimate_scan_partitions(self.docs(spark))
                 >= 2 * spark.sparkContext.defaultParallelism)
        if fused != (self.shape.files > 1):
            raise RuntimeError(f"{self.name}: input does not route as designed")
        t0 = time.perf_counter()
        for _ in range(self.warmup_calls):
            self.call(spark, "warm")
        self.setup_parts["warmup_s"] = time.perf_counter() - t0

    def build_oracle(self) -> None:
        frame = ec.extract_docs_frame(self.corpus.frame())
        self.oracle = {r["doc_id"]: canonical(r) for r in frame.to_dict("records")}

    def call(self, spark: SparkSession, tag: str = "call") -> str:
        out = self.out_dir(tag)
        pipeline.run_pipeline(spark, self.docs(spark), out)
        return out

    def mismatches(self, spark: SparkSession, out: str) -> int:
        """Docs whose committed output differs from the kernel oracle,
        counting missing and extra docs."""
        rows = (pipeline.read_extracted(spark, out)
                .select("doc_id", "spans", *_SCALARS).toArrow().to_pylist())
        got = {}
        dup = 0
        for r in rows:
            dup += r["doc_id"] in got
            got[r["doc_id"]] = canonical(r)
        bad = {d for d in self.oracle.keys() | got.keys()
               if self.oracle.get(d) != got.get(d)}
        return len(bad) + dup


# The first call starts the Python workers and compiles the plans; the
# next ones let the JVM's JIT catch up before anything is timed.  CPU time
# per doc (JIT threads left out) drops by about a fifth over the first four
# calls on the skewed input and keeps drifting down slowly after that, so
# every run times the same calls; on the batch input it is flat from the
# second call on.  A batch call takes about twice as long as a skewed one,
# and varies less from call to call, so it gets fewer timed calls.
class ExtractBatch(ExtractWorkload):
    name = "extract_batch"
    warmup_calls = 2
    min_calls = 4


class ExtractSkewed(ExtractWorkload):
    name = "extract_skewed"
    warmup_calls = 3
    min_calls = 7


class Curate(Workload):
    """Timed call: read the committed extracted table, then run the
    curation chain and collect every result."""

    name = "curate"

    def __init__(self, ws: str, seed: int):
        super().__init__(ws, seed)
        self.table_dir = os.path.join(ws, "extracted")
        self.expected: dict[str, object] = {}

    def setup(self, spark: SparkSession) -> None:
        self.configure(spark)
        t0 = time.perf_counter()
        if not os.path.exists(self.table_dir):  # a traced restart reuses it
            pipeline.run_pipeline(spark, self.docs(spark), self.table_dir)
        self.call(spark)
        self.setup_parts["warmup_s"] = time.perf_counter() - t0

    def texts(self, spark: SparkSession) -> DataFrame:
        return (pipeline.read_extracted(spark, self.table_dir)
                .select("doc_id", F.col("main_text").alias("text"))
                .filter(F.col("text").isNotNull()))

    def call(self, spark: SparkSession, tag: str = "call") -> dict:
        texts = self.texts(spark)
        per_doc = (
            text_analysis.with_quality_score(text_analysis.with_language_guess(texts))
            .withColumn("bpe_tokens", bpe.token_count_col("text", "bpe"))
            .select("doc_id", "lang_guess", "quality", "bpe_tokens")
            .collect()
        )
        sig = dedup.minhash_signatures(texts, MINHASH_K, SHINGLE_N)
        return {
            "per_doc": {r.doc_id: (r.lang_guess, float(r.quality), int(r.bpe_tokens))
                        for r in per_doc},
            "dups": {(r.digest, r.keep_id, int(r.n_copies))
                     for r in dedup.exact_dedup(texts).collect()},
            "lsh": {(r.doc_a, r.doc_b) for r in
                    dedup.lsh_candidate_pairs(sig, LSH_BANDS, LSH_ROWS).collect()},
            "jaccard": {(r.doc_a, r.doc_b, float(r.jaccard)) for r in
                        dedup.ngram_jaccard_pairs(texts, SHINGLE_N, JACCARD,
                                                  MAX_DF).collect()},
        }

    def build_oracle(self) -> None:
        """The operators' DuckDB twins (BPE has none: its oracle is the
        package's local tokenizer) over the kernel oracle's main_text."""
        frame = ec.extract_docs_frame(self.corpus.frame())
        docs = frame.loc[frame["main_text"].notna(), ["doc_id", "main_text"]]
        docs = docs.rename(columns={"main_text": "text"}).reset_index(drop=True)
        con = duckdb.connect()
        try:
            con.register("documents", docs)
            lang = dict(con.execute(text_analysis.language_guess_sql()).fetchall())
            qual = dict(con.execute(text_analysis.quality_score_sql()).fetchall())
            sqls = oracle_sql()
            self.expected = {
                "per_doc": {d: (lang[d], float(qual[d]), bpe.bpe_token_count(t))
                            for d, t in zip(docs["doc_id"], docs["text"])},
                "dups": {(a, b, int(c)) for a, b, c in con.execute(
                    "SELECT md5(text), min(doc_id), count(*) FROM documents "
                    "GROUP BY 1 HAVING count(*) > 1").fetchall()},
                "lsh": set(con.execute(sqls["q23_lsh_candidates"]).fetchall()),
                "jaccard": {(a, b, float(j)) for a, b, j in
                            con.execute(sqls["q24_ngram_jaccard"]).fetchall()},
            }
        finally:
            con.close()

    def mismatches(self, spark: SparkSession, got: dict) -> int:
        bad: set[str] = set()
        want = self.expected
        for d in want["per_doc"].keys() | got["per_doc"].keys():
            if want["per_doc"].get(d) != got["per_doc"].get(d):
                bad.add(d)
        for key in ("dups", "lsh", "jaccard"):
            for row in want[key] ^ got[key]:
                bad.update(x for x in row if isinstance(x, str) and x.startswith("doc"))
        return len(bad)


WORKLOADS = {w.name: w for w in (ExtractBatch, ExtractSkewed, Curate)}


def timed_loop(spark: SparkSession, wl: Workload, seconds: float,
               min_calls: int) -> dict:
    """Closed loop, one call in flight: call, check, repeat until
    ``seconds`` of timed calls (and at least ``min_calls``) have run.

    Per call it records the wall time, the CPU time of the process tree
    without the JVM's JIT compiler threads and without the speed probe,
    the JIT's CPU time, and the probe's two median times during the call.
    """
    walls, cpus, jits, probes, raised, mismatched, mismatch_docs = [], [], [], [], 0, 0, 0
    deadline = time.monotonic() + 4 * seconds + 60
    with host.SpeedProbe() as probe:
        while ((sum(walls) < seconds or len(walls) + raised < min_calls)
               and time.monotonic() < deadline):
            p0, j0, c0 = probe.cpu_s(), host.jit_cpu_s(), host.tree_cpu_s()
            t0 = time.perf_counter()
            try:
                result = wl.call(spark)
            except Exception as exc:  # a failed call is counted, not fatal
                raised += 1
                print(f"timed call failed: {exc!r}", flush=True)
                continue
            t1 = time.perf_counter()
            cpu, jit = host.tree_cpu_s() - c0, host.jit_cpu_s() - j0
            walls.append(t1 - t0)
            cpus.append(cpu - jit - (probe.cpu_s() - p0))
            jits.append(jit)
            probes.append(probe.median_between(t0, t1))
            bad = wl.mismatches(spark, result)
            mismatch_docs = max(mismatch_docs, bad)
            mismatched += bad > 0
    if not walls:
        raise RuntimeError("no timed call succeeded")
    return {"walls": walls, "cpus": cpus, "jits": jits, "probes": probes,
            "attempted": len(walls) + raised,
            "failed": raised + mismatched, "mismatch_docs": mismatch_docs}
