"""Seeded benchmark inputs.

Everything the program reads is made here from ``--seed`` alone:

1. *Source rows* shaped like the ``documents`` table the corpus module was
   written against: a uniform bag of 10-100 words over a 30-word vocabulary.
2. *Documents*: each source row goes through ``corpus.make_document`` under a
   fresh integer id, so the id picks the format family (``id % 9``) and the
   layout.  Ids congruent to 3 mod 2999 are the corpus module's multi-MB
   oversize documents; the generator places them on purpose instead of by
   chance, so every seed of a workload has the same oversize count.
3. *Replicas*: a fifth of the documents copy the spans of an earlier one
   under a new ``doc_id``; half of those change one body word.  They give
   the dedup operators exact groups and near-duplicate pairs to find.

The same seed yields byte-identical parquet files.
"""

from __future__ import annotations

import copy
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extraction_tests_spark import corpus
from pdf_extraction_tests_spark.pipeline import DEFAULT_OVERSIZE_CHARS

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

REPLICA_SHARE = 0.2
# make_document's oversize trigger and the families that can carry it
_OVERSIZE_MOD, _OVERSIZE_REM = 2999, 3
_REGION_FAMILIES = {
    i for i, f in enumerate(corpus.FORMAT_FAMILIES)
    if f not in ("html_doc", "plain_text", "multilingual")
}

_ARROW_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(pa.struct([
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]))),
])


@dataclass(frozen=True)
class Shape:
    """How a workload's corpus is built and how it lands on disk."""

    n_docs: int
    oversize_docs: int
    files: int


SHAPES = {
    # natural family mix; many files, so the scan yields enough splits and
    # extract_docs' auto mode fuses extraction onto it (no shuffle)
    "extract_batch": Shape(n_docs=600, oversize_docs=0, files=8),
    # one multi-MB doc holds about half of all span characters; landed as
    # ONE file, so auto mode takes the salted repartition
    "extract_skewed": Shape(n_docs=600, oversize_docs=1, files=1),
    # extract_batch's shape at a third of the size: near-duplicate search
    # grows faster than linearly in the doc count
    "curate": Shape(n_docs=120, oversize_docs=0, files=4),
}


@dataclass
class Corpus:
    doc_ids: list[str]
    spans: list[list[dict]]

    def chars(self) -> list[int]:
        return [sum(len(s["text"] or "") for s in sp) for sp in self.spans]

    def oversize_ids(self) -> list[str]:
        return [d for d, c in zip(self.doc_ids, self.chars())
                if c > DEFAULT_OVERSIZE_CHARS]

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame({"doc_id": self.doc_ids, "spans": self.spans})


def source_texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 101, size=n)
    return [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), size=k))
            for k in lengths]


def _fresh_ids(rng: np.random.Generator, n: int,
               oversize: int) -> tuple[list[int], list[int]]:
    """``n - oversize`` distinct ordinary ids, and ``oversize`` ids that
    trigger the multi-MB path."""
    pool = rng.choice(np.arange(10, 10 * (n + 10) * _OVERSIZE_MOD, 7),
                      size=2 * n, replace=False)
    normal = [int(i) for i in pool if i % _OVERSIZE_MOD != _OVERSIZE_REM][:n - oversize]
    big: list[int] = []
    k = int(rng.integers(1, 1000))
    while len(big) < oversize:
        cand = _OVERSIZE_REM + _OVERSIZE_MOD * k
        if cand % len(corpus.FORMAT_FAMILIES) in _REGION_FAMILIES:
            big.append(cand)
        k += 1
    return normal, big


def _edit_one_word(spans: list[dict], rng: np.random.Generator) -> list[dict]:
    """Swap one word of the longest text span (a body block)."""
    spans = copy.deepcopy(spans)
    target = max(spans, key=lambda s: len(s["text"] or ""))
    head, sep, body = target["text"].rpartition("|")
    words = body.split(" ")
    i = int(rng.integers(0, len(words)))
    words[i] = "dup" if words[i] != "dup" else "merge"
    target["text"] = head + sep + " ".join(words)
    return spans


def make_corpus(seed: int, workload: str) -> Corpus:
    shape = SHAPES[workload]
    n_docs = shape.n_docs
    rng = np.random.default_rng([seed, sorted(SHAPES).index(workload)])
    n_rep = int(n_docs * REPLICA_SHARE)
    n_base = n_docs - n_rep
    normal, big = _fresh_ids(rng, n_docs, shape.oversize_docs)
    n_small = n_base - shape.oversize_docs  # oversize docs are never replicated
    base_ids, rep_ids = normal[:n_small] + big, normal[n_small:]
    texts = source_texts(rng, n_base)
    doc_ids = [f"doc{i}" for i in base_ids]
    spans = [corpus.make_document(i, t, seed) for i, t in zip(base_ids, texts)]
    for j, new_id in enumerate(rep_ids):
        src = int(rng.integers(0, n_small))
        doc_ids.append(f"doc{new_id}")
        spans.append(copy.deepcopy(spans[src]) if j % 2 == 0
                     else _edit_one_word(spans[src], rng))
    order = rng.permutation(n_docs)
    return Corpus([doc_ids[i] for i in order], [spans[i] for i in order])


def write_corpus(c: Corpus, out_dir: str, files: int) -> None:
    """Land the corpus as ``files`` parquet files of equal row counts."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.Table.from_pandas(c.frame(), schema=_ARROW_SCHEMA, preserve_index=False)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(out_dir, f"part-{k:05d}.parquet"))
