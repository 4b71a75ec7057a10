"""The benchmark workloads: inputs, one untraced run, one traced run.

Each workload is a closed loop with one client: the next run starts
when the previous one has returned. The untraced run calls only the
program's entry points (``pipeline.run`` / ``runner.run_checkpointed``).
The traced run drives the same composition through the layer functions
those entry points call, one span per layer, and forces each layer's
output at its boundary (``persist`` + one aggregate job, at the
boundaries the pipeline already persists where it has one). Its triples
must hash-equal the untraced run's, which pins the two compositions
together.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from pie_spark.canon.canonical import key_canonical_map
from pie_spark.canon.cc import adaptive_components
from pie_spark.canon.edges import build_edges
from pie_spark.config import PipelineConfig
from pie_spark.extract.spans import media_refs
from pie_spark.graph.triples import _with_canon, all_triples
from pie_spark.io.lineage import new_run_id, stage_lineage
from pie_spark.io.sinks import write_triples
from pie_spark.io.snapshots import SnapshotTable, resume_delta
from pie_spark.link.linker import link_mentions
from pie_spark.pipeline import extract_stage, run
from pie_spark.runner import run_checkpointed
from pie_spark.schemas import DICT_SCHEMA, DOC_SCHEMA

import inputs

MEM = StorageLevel.MEMORY_AND_DISK
# the default configuration, with the triple sink's bucket count sized to
# the session's shuffle partitions (2 x 4 cores) instead of a cluster's 64
BASE = PipelineConfig(buckets=8)
TRIPLE_COLS = ("subj", "pred", "obj", "subj_type", "obj_type", "doc_id", "confidence")


def triple_hash(tbl) -> str:
    """Order-independent hash of a triple table (pyarrow): sha256 over
    the sorted rows, every column, confidence by its exact repr."""
    cols = [tbl.column(c).to_pylist() for c in TRIPLE_COLS]
    h = hashlib.sha256()
    for row in sorted(zip(*cols)):
        h.update(("\x1f".join(map(repr, row)) + "\x1e").encode())
    return h.hexdigest()


def triple_keys(tbl) -> set[tuple[str, str, str, str]]:
    return set(zip(*(tbl.column(c).to_pylist() for c in inputs.TRIPLE_KEY)))


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


@dataclass
class Inputs:
    corpus: inputs.Corpus
    dict_path: str
    dict_surfaces: int
    dict_edges: int
    ckpt_dir: str = ""
    ckpt_doc_ids: frozenset = frozenset()
    stats: dict = field(default_factory=dict)

    def docs(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(DOC_SCHEMA).parquet(self.corpus.docs_path)

    def dictionary(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(DICT_SCHEMA).parquet(self.dict_path)


@dataclass
class RunResult:
    wall_s: float
    triples: DataFrame  # materialized (persisted or committed) output
    cleanup: list = field(default_factory=list)

    def release(self) -> None:
        for fn in self.cleanup:
            fn()


class Workload:
    name = ""
    n_docs = (0, 0)          # (full, tiny)
    # warm-up runs after the cold reference run: with the C1 JIT only
    # (run._driver_java_opts) the run after it is close to steady state
    warmup_runs = 1

    def __init__(self, tiny: bool):
        self.tiny = tiny
        self.cfg = BASE

    # ---- inputs (no Spark) -------------------------------------------
    def generate(self, work: str, seed: int) -> Inputs:
        corpus = inputs.write_corpus(
            os.path.join(work, "docs"), seed, self.n_docs[self.tiny]
        )
        dict_path = os.path.join(work, "dict", "dict.parquet")
        surfaces, edges = inputs.write_dictionary(dict_path)
        inp = Inputs(corpus, dict_path, surfaces, edges)
        inp.stats = {
            "docs": corpus.n_docs,
            "text_spans": sum(corpus.text_spans),
            "golden_triples": len(corpus.golden),
            "dict_surfaces": surfaces,
            "dict_edges": edges,
        }
        return inp

    # ---- Spark-side inputs (outside timing) ----------------------------
    def reference_hash(self, spark: SparkSession, inp: Inputs, work: str) -> str:
        """Triple hash of a default fresh run over the same inputs."""
        res = run(spark, BASE, inp.docs(spark), inp.dictionary(spark))
        try:
            return triple_hash(res.triples.toArrow())
        finally:
            res.unpersist()

    def prepare(self, spark: SparkSession, inp: Inputs, work: str) -> None:
        """Spark-side inputs, made after the reference run."""

    def extract_spans(self, inp: Inputs) -> int:
        return sum(inp.corpus.text_spans)

    # ---- one untraced run ---------------------------------------------
    def run_once(self, spark: SparkSession, inp: Inputs, out_dir: str) -> RunResult:
        docs, d = inp.docs(spark), inp.dictionary(spark)
        t0 = time.perf_counter()
        res = run(spark, self.cfg, docs, d)
        res.triples.count()
        wall = time.perf_counter() - t0
        return RunResult(wall, res.triples, [res.unpersist])

    # ---- one traced run --------------------------------------------------
    def run_traced(self, spark, inp: Inputs, tr, out_dir: str) -> RunResult:
        docs, d = inp.docs(spark), inp.dictionary(spark)
        t0 = time.perf_counter()
        with tr.span("extract") as sp:
            mode: dict = {}
            merged = extract_stage(spark, self.cfg, docs, d, mode_out=mode).persist(MEM)
            person = _count_mentions(sp, merged)
            sp.counts["text_spans"] = self.extract_spans(inp)
        persisted = [merged]
        triples, labels = self._downstream(
            spark, tr, docs, merged, person, d, mode["dict_mode"], persisted
        )
        wall = time.perf_counter() - t0
        _count_components(tr, labels)
        return RunResult(wall, triples, [lambda: [p.unpersist() for p in persisted]])

    def _downstream(self, spark, tr, docs, merged, person, d, dict_mode, persisted):
        """``pipeline.downstream_stage`` on its broadcast-dictionary path,
        one span per layer. Forced boundaries are the frames the pipeline
        persists (linked_canon, triples); canon's ``adaptive_components``
        runs eagerly anyway. ``person``: PERSON mentions in ``merged``."""
        if dict_mode != "broadcast":
            raise RuntimeError(f"traced run covers the broadcast path, got {dict_mode}")
        cfg = self.cfg
        with tr.span("canon"):
            labels = adaptive_components(
                spark, build_edges(d), salt_k=cfg.salt_k,
                max_iters=cfg.cc_max_iters, driver_max_edges=cfg.cc_driver_max_edges,
            )
        with tr.span("link") as sp:
            # J4 canonical attach rides the link boundary: it is the frame
            # the pipeline persists after linking
            linked_canon = _with_canon(
                link_mentions(merged, d), key_canonical_map(labels)
            ).persist(MEM)
            persisted.append(linked_canon)
            sp.counts["mentions_in"] = person
            sp.counts["linked"] = linked_canon.count()
        with tr.span("graph") as sp:
            triples = all_triples(media_refs(docs), linked_canon, merged, cfg.pii_types)
            triples = triples.persist(MEM)
            persisted.append(triples)
            sp.counts["triples"] = triples.count()
        return triples, labels

    # ---- output size (outside timing) ------------------------------------
    def output_bytes(self, spark, res: RunResult, out_dir: str) -> tuple[int, int]:
        """(bytes, files) of the snapshot that commits ``res.triples``
        through the program's sink (the run's own commit, if it made one)."""
        if not os.path.isdir(out_dir):
            lineage = stage_lineage(res.triples, new_run_id(), "materialize", "", 0,
                                    triple_count=True)
            write_triples(SnapshotTable(out_dir), res.triples, lineage, self.cfg.buckets)
            res.cleanup.append(lambda: shutil.rmtree(out_dir, ignore_errors=True))
        files, size = dir_stats(out_dir)
        return size, files


def _count_components(tr, labels: DataFrame) -> None:
    """Counted after the traced run's clock stops, outside every span."""
    tr.counts["canon.components"] = labels.select(F.countDistinct("component")).first()[0]


def _count_mentions(sp, merged: DataFrame) -> int:
    """Force ``merged``: one job that counts its mentions; returns the
    PERSON mentions among them."""
    row = merged.agg(
        F.count("*"), F.sum((F.col("mention_type") == "PERSON").cast("long"))
    ).first()
    sp.counts["mentions"] = row[0]
    return row[1] or 0


class FreshPii(Workload):
    name = "fresh_pii"
    n_docs = (2_000, 300)


class ResumeWrite(Workload):
    """Resume from an extract checkpoint that covers 90% of the corpus,
    committing the triples to a fresh output table on every run."""

    name = "resume_write"
    n_docs = (2_000, 300)
    ckpt_share = 0.9         # share of docs in the extract checkpoint

    def reference_hash(self, spark, inp, work):
        """A default fresh run through the runner over the whole corpus,
        with an extract checkpoint: its triples are the reference, its
        checkpoint the input of every resumed run."""
        inp.ckpt_dir = os.path.join(work, "ckpt")
        cfg = replace(BASE, checkpoint_dir=inp.ckpt_dir)
        res = run_checkpointed(spark, cfg, inp.docs(spark), inp.dictionary(spark)).result
        try:
            return triple_hash(res.triples.toArrow())
        finally:
            res.unpersist()

    def prepare(self, spark, inp, work):
        """Cut the checkpoint down to the first 90% of the docs, as if the
        reference run had been killed after extracting them. Extraction
        is deterministic per document, so this equals a checkpoint built
        from those docs alone."""
        ids = inp.corpus.doc_ids
        done = ids[: int(len(ids) * self.ckpt_share)]
        inp.ckpt_doc_ids = frozenset(done)
        keep = F.broadcast(spark.createDataFrame([(i,) for i in done], "doc_id string"))
        ckpt = SnapshotTable(inp.ckpt_dir)
        meta = ckpt.meta()
        ckpt.commit(
            {n: ckpt.scan(spark, n).join(keep, "doc_id", "left_semi")
             for n in ("mentions", "docs_done")},
            meta=meta,
        )
        self.cfg = replace(BASE, checkpoint_dir=inp.ckpt_dir, resume=True)
        inp.stats["checkpointed_share"] = len(done) / len(ids)

    def extract_spans(self, inp):
        return sum(
            n for i, n in zip(inp.corpus.doc_ids, inp.corpus.text_spans)
            if i not in inp.ckpt_doc_ids
        )

    def run_once(self, spark, inp, out_dir):
        docs, d = inp.docs(spark), inp.dictionary(spark)
        cfg = replace(self.cfg, output_path=out_dir)
        t0 = time.perf_counter()
        out = run_checkpointed(spark, cfg, docs, d)
        wall = time.perf_counter() - t0
        return self._committed(spark, wall, out_dir, [out.result.unpersist])

    def _committed(self, spark, wall, out_dir, cleanup) -> RunResult:
        res = RunResult(wall, SnapshotTable(out_dir).scan(spark, "triples"), cleanup)
        res.triples = res.triples.select(*TRIPLE_COLS)
        res.cleanup.append(lambda: shutil.rmtree(out_dir, ignore_errors=True))
        return res

    def run_traced(self, spark, inp, tr, out_dir):
        """``runner.run_checkpointed`` on a resume, one span per layer."""
        docs, d = inp.docs(spark), inp.dictionary(spark)
        cfg = replace(self.cfg, output_path=out_dir)
        run_id = new_run_id()
        persisted: list[DataFrame] = []
        t0 = time.perf_counter()
        with tr.span("runner") as sp:
            ckpt = SnapshotTable(cfg.checkpoint_dir)
            done_docs = ckpt.scan(spark, "docs_done")
            done_mentions = ckpt.scan(spark, "mentions")
            todo = resume_delta(docs, done_docs)
            sp.counts["docs_reextracted"] = todo.count()
            mode: dict = {}
            with tr.span("extract") as ex:
                # forced at the runner's persisted boundary: the checkpointed
                # mentions plus the fresh ones
                fresh = extract_stage(spark, cfg, todo, d, mode_out=mode)
                merged = done_mentions.unionByName(fresh).persist(MEM)
                persisted.append(merged)
                person = _count_mentions(ex, merged)
                ex.counts["text_spans"] = self.extract_spans(inp)
            extract_sid = ckpt.current_snapshot()
            mode.setdefault("dict_mode", ckpt.meta(extract_sid).get("dict_mode", "broadcast"))
        extract_ms = int((time.perf_counter() - t0) * 1000)
        triples, labels = self._downstream(
            spark, tr, docs, merged, person, d, mode["dict_mode"], persisted
        )
        with tr.span("io") as sp:
            wall_ms = int((time.perf_counter() - t0) * 1000)
            lineage = stage_lineage(
                merged, run_id, "extract", "", extract_ms, mention_count=True
            ).unionByName(
                stage_lineage(triples, run_id, "materialize", "", wall_ms, triple_count=True)
            )
            write_triples(
                SnapshotTable(out_dir), triples, lineage, cfg.buckets,
                meta={"run_id": run_id, "input_snapshot": "",
                      "extract_snapshot": extract_sid, "dict_mode": mode["dict_mode"]},
            )
            sp.counts["files_written"], sp.counts["bytes_written"] = dir_stats(out_dir)
        wall = time.perf_counter() - t0
        _count_components(tr, labels)
        return self._committed(
            spark, wall, out_dir, [lambda: [p.unpersist() for p in persisted]]
        )


WORKLOADS = {w.name: w for w in (FreshPii, ResumeWrite)}
