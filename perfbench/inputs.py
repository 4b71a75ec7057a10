"""Seeded benchmark inputs, written as parquet before any Spark session.

The corpus is a pure function of ``(seed, size)``:

* base documents: ``doc_id = "s<seed>-<i>"`` with a filler text drawn
  from the base-table vocabulary by an RNG keyed on the seed. The
  program's own fixture generator (``fixtures.gen.gen_doc``) then plants
  the PII mentions, keyed per ``doc_id`` — so the seed picks the replica
  doc ids and every seed gives a different corpus with the same
  statistics;
* golden triples from the same ``gen_doc`` call, for precision/recall;
* the entity dictionary: the fixture dictionary (~900 surfaces), as
  parquet, so every workload reads its inputs the same way.

The corpus is generated on the driver in plain Python, so input
generation needs no Spark job and stays out of set-up time.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pie_spark.fixtures import gazetteer as gz
from pie_spark.fixtures.gen import gen_doc

# vocabulary and length range (10..99 tokens) of the base documents table
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_SPAN = pa.struct(
    [
        pa.field("kind", pa.string(), False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), False),
    ]
)
DOC_ARROW = pa.schema(
    [pa.field("doc_id", pa.string(), False), pa.field("spans", pa.list_(_SPAN), False)]
)
DICT_ARROW = pa.schema(
    [
        pa.field("surface", pa.string(), False),
        pa.field("norm_key", pa.string(), False),
        pa.field("entity_id", pa.string(), False),
        pa.field("entity_type", pa.string(), False),
        pa.field("prior", pa.float64(), False),
    ]
)
TRIPLE_KEY = ("subj", "pred", "obj", "doc_id")


@dataclass
class Corpus:
    docs_path: str
    doc_ids: list[str]
    text_spans: list[int]  # text spans per doc, aligned with doc_ids
    golden: set[tuple[str, str, str, str]]

    @property
    def n_docs(self) -> int:
        return len(self.doc_ids)


def _rng(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(tag.encode())])


def write_corpus(out_dir: str, seed: int, n_docs: int, files: int = 8) -> Corpus:
    """``n_docs`` seeded documents as ``files`` parquet files + golden triples."""
    rng = _rng(seed, "base-text")
    lens = rng.integers(10, 100, size=n_docs)
    words = rng.integers(0, len(_VOCAB), size=int(lens.sum()))
    doc_ids, spans, n_text, golden = [], [], [], set()
    pos = 0
    for i, n in enumerate(lens):
        doc_id = f"s{seed}-{i}"
        text = " ".join(_VOCAB[w] for w in words[pos : pos + n])
        pos += n
        g = gen_doc(doc_id, text)
        doc_ids.append(doc_id)
        spans.append(g.spans)
        n_text.append(sum(1 for s in g.spans if s["kind"] == "text" and s["text"]))
        golden.update(tuple(t[k] for k in TRIPLE_KEY) for t in g.triples)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-n_docs // files)
    for f, lo in enumerate(range(0, n_docs, step)):
        tbl = pa.table(
            {"doc_id": doc_ids[lo : lo + step], "spans": spans[lo : lo + step]},
            schema=DOC_ARROW,
        )
        pq.write_table(tbl, os.path.join(out_dir, f"part-{f:03d}.parquet"))
    return Corpus(out_dir, doc_ids, n_text, golden)


def write_dictionary(out_path: str) -> tuple[int, int]:
    """The fixture dictionary as parquet; returns (distinct surfaces,
    canonicalisation-graph edges)."""
    rows = [
        (e.surface, e.norm_key, e.entity_id, e.entity_type, e.prior)
        for e in gz.dictionary_entries()
    ]
    cols = list(zip(*rows))
    tbl = pa.table({f.name: list(c) for f, c in zip(DICT_ARROW, cols)}, schema=DICT_ARROW)
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    pq.write_table(tbl, out_path)
    return len(set(cols[0])), len(set(zip(cols[1], cols[2])))
