"""Smoke tests replicating the driver's checks on __spark_entry__.py."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["__spark_entry__"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_entry_runs(spark):
    mod = _load_entry()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 500  # sf0.001 documents
    assert {f.name for f in df.schema.fields} >= {
        "doc_id", "title", "abstract", "document_format", "n_spans"
    }


def test_every_oracle_key_has_query(spark):
    mod = _load_entry()
    q = mod.queries()
    o = mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20


# Runs in a subprocess from a directory outside the repo: the driver puts
# the repo on sys.path, the workers can import the package only if the
# entry point shipped it.  Every input is built on the driver, and every
# entry point gets a new session (new applicationId), so no earlier call's
# shipping can cover for a missing one.
_FRESH_SESSION_SCRIPT = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from pdf_extraction_tests_spark import corpus, extract_core as ec, pipeline as pl
from pdf_extraction_tests_spark.functions import bpe
from pdf_extraction_tests_spark.operators import (
    llm_hook, multimodal, phash, similarity, sketches, text_analysis)
from pdf_extraction_tests_spark.schema import DOCS, EXTRACTED
from pdf_extraction_tests_spark.sources import binary_docs, warc_min
from pdf_extraction_tests_spark.streaming import stateful

words = "the method results data model analysis study system paper".split()
documents = pd.DataFrame({
    "doc_id": range(1, 25),
    "text": [" ".join(words[(i * j) % 9] for j in range(60))
             for i in range(1, 25)]})
docs_pdf = corpus.corpus_pandas(documents)
extracted_pdf = ec.extract_docs_frame(docs_pdf)
here = os.path.abspath(".")
for d in ("sf", "bin", "warc", "events"):
    os.makedirs(d)
documents.to_parquet("sf/documents.parquet")
binary_docs.write_spdf("bin/a.spdf", ["1,100,100,800,40,title|A Title"])
with open("warc/a.warc", "wb") as f:
    f.write(warc_min.build_warc([("http://x/a", "text/html", b"<p>hi</p>")]))
pq.write_table(pa.table({
    "doc_id": ["e1"], "kind": ["text"], "text": ["hello"],
    "media_ref": pa.array([None], pa.string()),
    "offset": pa.array([0], pa.int32()), "is_last": [True]}), "events/e.parquet")


def docs(s):
    return s.createDataFrame(docs_pdf, schema=DOCS)


def texts(s):
    return s.createDataFrame(documents)


def emb(s):
    vecs = np.random.default_rng(0).standard_normal((8, 4)).tolist()
    return s.createDataFrame(list(enumerate(vecs)),
                             "vec_id long, embedding array<double>")


def media(s):
    return multimodal.synthetic_media(s, n=6)


def assembled(s):
    stream = s.readStream.schema(stateful.SPAN_EVENTS).parquet(here + "/events")
    (stateful.assemble_spans_stream(stream).writeStream.format("memory")
     .queryName("assembled").trigger(availableNow=True).start()
     .awaitTermination())
    return s.table("assembled")


ENTRY_POINTS = {
    "extract_direct": lambda s: pl.extract_direct(pl.with_part_key(docs(s))),
    "extract_chunked": lambda s: pl.extract_chunked(pl.with_part_key(docs(s))),
    "extract_docs": lambda s: pl.extract_docs(docs(s)),
    "extract_docs_dual": lambda s: pl.extract_docs_dual(docs(s)),
    "debug_boundaries": lambda s: pl.debug_boundaries(docs(s)),
    "extract_layout": lambda s: pl.extract_layout(docs(s)),
    "llm_structure_stage": lambda s: llm_hook.llm_structure_stage(
        s.createDataFrame(extracted_pdf, schema=EXTRACTED),
        llm_hook.canned_chat_fn),
    "with_language_guess": lambda s: text_analysis.with_language_guess(texts(s)),
    "bpe_token_count_col": lambda s: texts(s).select(
        bpe.token_count_col("text", "bpe")),
    "heavy_hitters": lambda s: sketches.heavy_hitters(texts(s), exact=False),
    "with_lsh_bucket": lambda s: similarity.with_lsh_bucket(
        emb(s), similarity.hyperplanes(4)),
    "with_ivf_list": lambda s: similarity.with_ivf_list(emb(s), np.eye(4)),
    "extract_media_features": lambda s: multimodal.extract_media_features(
        media(s)),
    "media_from_binary_docs": lambda s: multimodal.media_from_binary_docs(
        s.createDataFrame([("d", bytearray(b"%PDF-1.4 x"))],
                          "doc_id string, content binary")),
    "phash_features": lambda s: phash.phash_features(media(s)),
    "audio_fingerprints": lambda s: phash.audio_fingerprints(media(s)),
    "video_frame_phashes": lambda s: phash.video_frame_phashes(media(s)),
    "corpus_spark": lambda s: corpus.corpus_spark(s, here + "/sf"),
    "read_warc_docs": lambda s: warc_min.read_warc_docs(s, here + "/warc"),
    "read_binary_docs": lambda s: binary_docs.read_binary_docs(s, here + "/bin"),
    "assemble_spans_stream": assembled,
}

spark = None
for name, entry in ENTRY_POINTS.items():
    if spark is not None:
        spark.stop()
    spark = (SparkSession.builder.master("local[2]").appName(name)
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.session.timeZone", "UTC").getOrCreate())
    try:
        print("OK", name, len(entry(spark).collect()), flush=True)
    except Exception as e:  # noqa: BLE001 - report every entry point
        why = [ln for ln in str(e).splitlines() if "Error" in ln][-1:]
        print("FAIL", name, type(e).__name__, why, flush=True)
spark.stop()
"""


def test_udf_queries_run_in_fresh_session_without_extraction(tmp_path):
    """Every public function behind a Python-boundary stage must ship the
    package itself: run each one first thing in a new session."""
    import subprocess

    res = subprocess.run(
        [sys.executable, "-c", _FRESH_SESSION_SCRIPT,
         str(Path(__file__).resolve().parents[1])],
        capture_output=True, text=True, cwd=tmp_path, timeout=400)
    lines = [ln for ln in res.stdout.splitlines()
             if ln.startswith(("OK ", "FAIL "))]
    assert len(lines) == 21 and all(ln.startswith("OK ") for ln in lines), (
        "\n".join(lines) + "\n" + res.stderr[-2000:])
