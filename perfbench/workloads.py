"""The benchmark's workloads: seeded inputs, one closed-loop unit of work,
the output checks run after every unit, and the per-layer roll-up of a
traced unit.

A unit is the work a user waits for: on ``er_batch`` one
``ERPipeline.run`` from two transcript tables to final clusters; on
``corpus_qa`` one quality pass (canonicalize, exact shingle-Jaccard
pairs, MinHash near-duplicates, exact cosine top-k over the A∪B corpus),
which in a traced run ends with one streaming micro-batch of
``incremental_dedup_stream``. Units run back to back, the next starting
when the previous one ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import tracing

# Synthetic-corpus settings per workload (ertransfer_spark.synth.SynthConfig
# fields), with the rest of each workload's record, live in workloads.json.
RECORD = json.loads(Path(__file__).with_name("workloads.json").read_text())["workloads"]
ER_SYNTH = RECORD["er_batch"]["synth"]
QA_SYNTH = RECORD["corpus_qa"]["synth"]
ER_K = 5
QA_THRESHOLD = 0.5
QA_K = 5
# corpus_qa's stream: all A conversations arrive in the first micro-batch
# file, the B conversations in STREAM_B_FILES more, one file per trigger.
STREAM_B_FILES = 3
STREAM_MIN_JACCARD = 0.6


@dataclass
class UnitResult:
    wall_s: float
    turns: int
    ops: int                       # operations checked in this unit
    failed: list[str] = field(default_factory=list)
    pair_recall: float = 0.0
    pair_f1: float = 0.0
    layer_counts: dict = field(default_factory=dict)


def _null_span(name, **attrs):
    return contextlib.nullcontext()


def _f1(found: set, golden: set) -> float:
    """Pairwise F1 of ``found`` pairs against ``golden`` pairs."""
    tp = len(found & golden)
    p = tp / len(found) if found else 0.0
    r = tp / len(golden) if golden else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _write_parquet(pdf, path: str, n_files: int, schema=None) -> None:
    """``pdf`` as ``n_files`` parquet files under ``path``, written with
    pyarrow (no Spark job), in the layout a Spark write of an
    ``n_files``-partition DataFrame leaves."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        part = pa.Table.from_pandas(pdf.iloc[i * step:(i + 1) * step], schema=schema, preserve_index=False)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _write_inputs(spark, synth: dict, seed: int, workdir: str):
    """Generate the seeded A/B corpora and golden matches, write them to
    parquet under ``workdir`` and read them back (the engine's input is a
    table, not a driver-side DataFrame)."""
    import pyarrow as pa

    from ertransfer_spark.synth import SynthConfig, generate

    ta, tb, matches = generate(SynthConfig(seed=seed, **synth))
    # the columns and types of ertransfer_spark.synth.to_spark; timestamps
    # are UTC, the engine session's time zone
    turn_schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    n_files = spark.sparkContext.defaultParallelism
    paths = {k: os.path.join(workdir, "input", k) for k in ("a", "b", "m")}
    _write_parquet(ta, paths["a"], n_files, turn_schema)
    _write_parquet(tb, paths["b"], n_files, turn_schema)
    _write_parquet(matches, paths["m"], 1)
    golden = set(zip(matches["a_conv_id"], matches["b_conv_id"]))
    tables = {k: spark.read.parquet(p) for k, p in paths.items()}
    return tables, golden, ta, tb


class ErBatch:
    """``ERPipeline.run(PipelineConfig(k=5))`` over A/B corpora in parquet."""

    name = "er_batch"

    def __init__(self, spark, workdir: str, seed: int, traced: bool = False):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.synth = ER_SYNTH
        self._n = 0

    def setup(self) -> None:
        self.tables, self.golden, ta, tb = _write_inputs(
            self.spark, self.synth, self.seed, self.workdir)
        self.turns = len(ta) + len(tb)

    def unit(self, tracer: tracing.Tracer | None = None) -> UnitResult:
        from ertransfer_spark.plans.pipeline import ERPipeline, PipelineConfig

        self._n += 1
        cat_dir = os.path.join(self.workdir, f"er-{self._n}")
        span = tracer.span if tracer else _null_span
        if tracer:
            for target in self.patch_targets():
                tracer.patch(*target)
        try:
            t0 = time.perf_counter()
            with span("plans.pipeline"):
                pipe = ERPipeline(self.spark, cat_dir, PipelineConfig(k=ER_K))
                out = pipe.run(self.tables["a"], self.tables["b"], self.tables["m"], resume=False)
            wall = time.perf_counter() - t0
        finally:
            if tracer:
                tracer.restore()
        try:
            return self._check(pipe, out, wall, cat_dir, layer_counts=tracer is not None)
        finally:
            shutil.rmtree(cat_dir, ignore_errors=True)

    def _check(self, pipe, out, wall: float, cat_dir: str, layer_counts: bool) -> UnitResult:
        res = UnitResult(wall, self.turns, ops=1)
        matched = {(r["a_id"], r["b_id"]) for r in out["matched_pairs"].select("a_id", "b_id").collect()}
        cands = {(r["a_id"], r["b_id"]) for r in pipe.catalog.read("candidates").select("a_id", "b_id").collect()}
        f1 = res.pair_f1 = _f1(matched, self.golden)
        res.pair_recall = len(cands & self.golden) / len(self.golden)
        if not matched or not cands:
            res.failed.append("er_batch: empty matched pairs or candidates")
        elif abs(out["metrics"]["f1"] - f1) > 1e-9:
            res.failed.append(f"er_batch: engine F1 {out['metrics']['f1']} != checked F1 {f1}")
        if not layer_counts:
            return res
        res.layer_counts = {
            "canonicalize.records_out": pipe.catalog.read("records_a").count()
            + pipe.catalog.read("records_b").count(),
            "blocking.candidates": len(cands),
            "blocking.golden_per_candidate": len(cands & self.golden) / max(1, len(cands)),
            "matcher.pairs_scored": out["predictions"].count(),
            "catalog.bytes_written": _dir_bytes(cat_dir),
        }
        return res

    def patch_targets(self):
        """(owner, attribute, span name, table_arg) for a traced unit: the
        engine functions ``plans.pipeline`` imports, the matcher trainer it
        imports at call time, and the ``SnapshotCatalog`` methods."""
        from ertransfer_spark.operators import matcher
        from ertransfer_spark.plans import pipeline

        out = []
        for attr, obj in sorted(vars(pipeline).items()):
            mod = getattr(obj, "__module__", "") or ""
            if callable(obj) and not isinstance(obj, type) and mod.startswith("ertransfer_spark.operators."):
                out.append((pipeline, attr, f"{mod.rsplit('.', 1)[1]}.{attr}", False))
        out.append((matcher, "train_matcher_local", "matcher.train_matcher_local", False))
        return out + catalog_targets()

    @staticmethod
    def layer_metrics(spans: list[tracing.Span], log: tracing.EventLog) -> dict:
        def commit(*tables):
            return lambda s: s.name == "catalog.commit" and s.attrs.get("table") in tables

        def named(*names):
            return lambda s: s.name in names

        def either(*preds):
            return lambda s: any(p(s) for p in preds)

        L = _Layers(spans, log)
        canon = either(named("canonicalize.canonicalize"), commit("records_a", "records_b"))
        block = either(named("blocking.top_k_token_join", "blocking.block_histogram"), commit("candidates"))
        train = named("matcher.train_matcher_local", "matcher.train_matcher")
        score = either(named("matcher.attach_pair_text", "matcher.featurize", "matcher.score"),
                       commit("predictions"))
        thresh = named("clustering.best_threshold")
        umc = either(named("clustering.unique_mapping_clusters"), commit("matched_pairs"))
        cc = either(named("clustering.clusters_from_pairs"), commit("clusters"))
        bstats = L.stats(block)
        return {
            "canonicalize.wall_s": L.wall(canon),
            "canonicalize.task_s": L.stats(canon).task_s,
            "blocking.wall_s": L.wall(block),
            "blocking.task_s": bstats.task_s,
            "blocking.shuffle_bytes": bstats.shuffle_bytes,
            "blocking.spill_bytes": bstats.spill_bytes,
            "matcher.train_s": L.wall(train),
            "matcher.score_wall_s": L.wall(score),
            "matcher.task_s": L.stats(either(train, score)).task_s,
            "clustering.threshold_s": L.wall(thresh),
            "clustering.umc_wall_s": L.wall(umc),
            "clustering.cc_wall_s": L.wall(cc),
            "clustering.jobs": L.stats(either(thresh, umc, cc)).jobs,
            **L.catalog_metrics(),
            **L.unit_metrics(),
        }


class CorpusQa:
    """Shingle-Jaccard pairs, MinHash near-duplicates and exact cosine
    top-k over the canonicalized A∪B corpus; in a traced run (``traced``)
    each unit then runs one micro-batch of ``incremental_dedup_stream``.

    The ids passed to the three batch operators are ``xxhash64(conv_id)``:
    they cast ids to long, so string conversation ids give zero rows (see
    README.md, "Defect found while sizing").

    The stream keeps its catalog and checkpoint across units. Set-up writes
    ``1 + STREAM_B_FILES`` JSON files: all A conversations, then the B
    conversations split by a seeded shuffle. Each unit moves the next file
    into the stream's source directory and restarts the query with
    ``availableNow``, so it runs one trigger against the band index built
    by the earlier ones. The warm-up unit ingests the A file; after the last
    B file the next unit starts a fresh catalog with the A file again."""

    name = "corpus_qa"

    def __init__(self, spark, workdir: str, seed: int, traced: bool = False):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.stream = traced
        self.synth = QA_SYNTH
        self._cell_dir = os.path.join(workdir, "cells")
        self._next_file = 0
        self._epoch = 0

    def setup(self) -> None:
        from pyspark.sql import functions as F

        tables, golden, ta, tb = _write_inputs(self.spark, self.synth, self.seed, self.workdir)
        self.turns = len(ta) + len(tb)
        self.turns_df = tables["a"].unionByName(tables["b"])
        self.golden = {
            tuple(sorted(r))
            for r in tables["m"].select(F.xxhash64("a_conv_id"), F.xxhash64("b_conv_id")).collect()
        }
        if self.stream:
            self.stream_golden = {tuple(sorted(g)) for g in golden}
            self._write_stream_files(ta, tb)

    def _write_stream_files(self, ta, tb) -> None:
        import numpy as np

        ids = sorted(tb["conv_id"].unique())
        np.random.default_rng(self.seed).shuffle(ids)
        file_of = {c: i % STREAM_B_FILES for i, c in enumerate(ids)}
        parts = [ta] + [tb[tb["conv_id"].map(file_of) == i] for i in range(STREAM_B_FILES)]
        out = os.path.join(self.workdir, "stream-files")
        os.makedirs(out)
        self.stream_files = []
        for i, pdf in enumerate(parts):
            path = os.path.join(out, f"batch-{i:02d}.json")
            pdf.to_json(path, orient="records", lines=True, date_format="iso")
            self.stream_files.append((path, len(pdf), set(pdf["conv_id"])))

    def unit(self, tracer: tracing.Tracer | None = None) -> UnitResult:
        from ertransfer_spark.operators import gridsweep

        span = tracer.span if tracer else _null_span
        if tracer:
            # the operators import grid_cogroup at call time, so replacing
            # the module attribute reaches every grid sweep in the unit
            tracer.replace(gridsweep, "grid_cogroup", lambda grid: self._timed_grid(grid, tracer))
            for target in catalog_targets():
                tracer.patch(*target)
        try:
            return self._unit(span)
        finally:
            if tracer:
                tracer.restore()

    def _timed_grid(self, grid, tracer: tracing.Tracer):
        os.makedirs(self._cell_dir, exist_ok=True)

        def timed(left, right, key_cols, fn, schema):
            kernel = tracing.timed_cell_kernel(fn, self._cell_dir, tracer.run)
            with tracer.span("gridsweep.grid_cogroup"):
                return grid(left, right, key_cols, kernel, schema)

        return timed

    def _next_stream_file(self):
        """The next stream file moved into the source directory; a fresh
        catalog, checkpoint and source directory before the A file."""
        from ertransfer_spark.sources.catalog import SnapshotCatalog

        i = self._next_file
        if i == 0:
            shutil.rmtree(os.path.join(self.workdir, f"stream-{self._epoch}"), ignore_errors=True)
            self._epoch += 1
            base = os.path.join(self.workdir, f"stream-{self._epoch}")
            self._src = os.path.join(base, "src")
            os.makedirs(self._src)
            self._ckpt = os.path.join(base, "checkpoint")
            self._catalog = SnapshotCatalog(self.spark, os.path.join(base, "catalog"))
            self._found: set = set()
            self._ingested: set = set()
        self._next_file = (i + 1) % len(self.stream_files)
        path, n_turns, ids = self.stream_files[i]
        shutil.copy(path, os.path.join(self._src, os.path.basename(path)))
        return n_turns, ids

    def _unit(self, span) -> UnitResult:
        from pyspark.sql import functions as F

        from ertransfer_spark.operators.canonicalize import canonicalize
        from ertransfer_spark.operators.dedup import minhash_dedup, shingle_jaccard_pairs
        from ertransfer_spark.operators.simsearch import brute_force_topk, embed_records
        from ertransfer_spark.streaming.ingest import incremental_dedup_stream, read_turn_stream

        if self.stream:
            stream_turns, stream_ids = self._next_stream_file()
        t0 = time.perf_counter()
        with span("qa.unit"):
            with span("canonicalize.canonicalize"):
                recs = canonicalize(self.turns_df).withColumn("id", F.xxhash64("conv_id"))
            with span("collect.records"):
                recs = recs.cache()
                n_docs = recs.count()
            with span("dedup.shingle_jaccard_pairs"):
                jac = shingle_jaccard_pairs(
                    recs.select("id", F.col("shingle_set").alias("s"), F.size("shingle_set").alias("sz")),
                    threshold=QA_THRESHOLD)
            with span("collect.jaccard"):
                jac_rows = jac.collect()
            with span("dedup.minhash_dedup"):
                mh = minhash_dedup(recs.select(F.col("id").alias("doc_id"), F.col("agValue").alias("text")),
                                   min_jaccard=QA_THRESHOLD)
            with span("collect.minhash"):
                mh_rows = mh.collect()
            with span("simsearch.embed_records"):
                vec = embed_records(recs.select(F.col("id").alias("conv_id"), "token_set"))
            with span("collect.embed"):
                vec = vec.cache()
                vec.count()
            with span("simsearch.brute_force_topk"):
                ann = brute_force_topk(vec, vec, k=QA_K, id_col="conv_id")
            with span("collect.ann"):
                ann_rows = ann.select("query_id", "nbr_id").collect()
            if self.stream:
                with span("streaming.incremental_dedup_stream"):
                    query = incremental_dedup_stream(
                        read_turn_stream(self.spark, self._src, max_files_per_trigger=1),
                        self._catalog, min_jaccard=STREAM_MIN_JACCARD, checkpoint_dir=self._ckpt)
                    query.awaitTermination()
        wall = time.perf_counter() - t0
        vec.unpersist()
        recs.unpersist()
        res = self._check(wall, n_docs, jac_rows, mh_rows, ann_rows)
        if self.stream:
            self._check_stream(res, query, stream_turns, stream_ids)
        return res

    def _check(self, wall, n_docs, jac_rows, mh_rows, ann_rows) -> UnitResult:
        res = UnitResult(wall, self.turns, ops=3 + self.stream)
        jac = {(r["a_id"], r["b_id"]) for r in jac_rows}
        mh = {(r["a_id"], r["b_id"]) for r in mh_rows}
        ann = {tuple(sorted((r["query_id"], r["nbr_id"]))) for r in ann_rows}
        for op, pairs in (("shingle_jaccard_pairs", jac_rows), ("minhash_dedup", mh_rows)):
            if not pairs or not {(r["a_id"], r["b_id"]) for r in pairs} & self.golden:
                res.failed.append(f"corpus_qa: {op} found no golden pair ({len(pairs)} rows)")
            elif any(r["sim_r"] < QA_THRESHOLD or r["a_id"] >= r["b_id"] for r in pairs):
                res.failed.append(f"corpus_qa: {op} returned a pair below threshold or unordered")
        if len(ann_rows) != QA_K * n_docs or not ann & self.golden:
            res.failed.append(
                f"corpus_qa: brute_force_topk returned {len(ann_rows)} rows for "
                f"{n_docs} docs (expected {QA_K * n_docs}) or no golden pair")
        res.pair_recall = len((jac | mh) & self.golden) / len(self.golden)
        res.pair_f1 = _f1(jac, self.golden)
        res.layer_counts = {"canonicalize.records_out": n_docs}
        return res

    def _check_stream(self, res: UnitResult, query, n_turns: int, ids: set) -> None:
        """One trigger ingested the file and the corpus holds one record per
        conversation ingested so far; the trigger's duplicate pairs are
        ordered and above the threshold; the union of every trigger's pairs
        finds golden pairs among the conversations ingested so far."""
        batches = [p for p in query.recentProgress if p["numInputRows"] > 0]
        res.turns += n_turns
        self._ingested |= ids
        n_records = self._catalog.read("corpus_records").count()
        if len(batches) != 1 or n_records != len(self._ingested):
            res.failed.append(f"corpus_qa: stream ran {len(batches)} triggers for one file and holds "
                              f"{n_records} records for {len(self._ingested)} conversations")
            return
        batch_id = batches[0]["batchId"]
        rows = self._catalog.read(f"dup_pairs_batch_{batch_id:05d}").collect()
        self._found |= {(r["a_id"], r["b_id"]) for r in rows}
        golden = {g for g in self.stream_golden if g[0] in self._ingested and g[1] in self._ingested}
        if any(r["sim"] < STREAM_MIN_JACCARD or r["a_id"] >= r["b_id"] for r in rows):
            res.failed.append("corpus_qa: stream returned a pair below threshold or unordered")
        elif golden and not self._found & golden:
            res.failed.append(f"corpus_qa: stream found no golden pair among {len(golden)}")
        lineage = self._catalog.lineage().filter(f"stage = 'dup_pairs_batch_{batch_id:05d}'").first()
        res.layer_counts.update({
            "stream.batch_s": batches[0]["durationMs"]["triggerExecution"] / 1000.0,
            "stream.candidates": lineage["comparisons"],
            "stream.verify_precision": lineage["matches"] / max(1, lineage["comparisons"]),
        })
        if golden:
            res.layer_counts["stream.dup_recall"] = len(self._found & golden) / len(golden)

    def layer_metrics(self, spans: list[tracing.Span], log: tracing.EventLog) -> dict:
        L = _Layers(spans, log)
        cells = tracing.read_cell_times(self._cell_dir, L.root.run)

        def named(*names):
            return lambda s: s.name in names

        canon = named("canonicalize.canonicalize", "collect.records")
        jac = named("dedup.shingle_jaccard_pairs", "collect.jaccard")
        mh = named("dedup.minhash_dedup", "collect.minhash")
        emb = named("simsearch.embed_records", "collect.embed")
        ann = named("simsearch.brute_force_topk", "collect.ann")
        stream = next(s for s in spans if s.name == "streaming.incremental_dedup_stream")
        js, ms = L.stats(jac), L.stats(mh)
        return {
            "canonicalize.wall_s": L.wall(canon),
            "canonicalize.task_s": L.stats(canon).task_s,
            "dedup.jaccard_wall_s": L.wall(jac),
            "dedup.jaccard_task_s": js.task_s,
            "dedup.jaccard_shuffle_bytes": js.shuffle_bytes,
            "dedup.minhash_wall_s": L.wall(mh),
            "dedup.minhash_task_s": ms.task_s,
            "dedup.minhash_shuffle_bytes": ms.shuffle_bytes,
            "simsearch.embed_wall_s": L.wall(emb),
            "simsearch.ann_wall_s": L.wall(ann),
            "simsearch.ann_task_s": L.stats(ann).task_s,
            "gridsweep.cells": len(cells),
            "gridsweep.cell_skew": max(cells) / statistics.median(cells) if cells else 0.0,
            # one trigger per unit; its jobs carry the query's group or a
            # catalog span's, so they are counted by time
            "stream.jobs_per_batch": log.window_stats(stream.start, stream.end).jobs,
            **L.catalog_metrics(),
            **L.unit_metrics(),
        }


def catalog_targets():
    """(owner, attribute, span name, table_arg) for the ``SnapshotCatalog``
    methods a traced unit wraps."""
    from ertransfer_spark.sources.catalog import SnapshotCatalog

    return [(SnapshotCatalog, meth, f"catalog.{meth}", meth != "append_lineage")
            for meth in ("commit", "append", "read", "read_buckets", "append_lineage", "exists")]


class _Layers:
    """Roll-up helpers over the spans of one traced unit."""

    def __init__(self, spans: list[tracing.Span], log: tracing.EventLog):
        self.spans = spans
        self.log = log
        self.root = next(s for s in spans if s.parent is None)

    def _top(self, pred) -> list[tracing.Span]:
        """Matching spans with no matching ancestor (no double counting)."""
        by_id = {s.id: s for s in self.spans}
        out = []
        for s in self.spans:
            if not pred(s):
                continue
            p = by_id.get(s.parent)
            while p is not None and not pred(p):
                p = by_id.get(p.parent)
            if p is None:
                out.append(s)
        return out

    def wall(self, pred) -> float:
        return sum(s.wall for s in self._top(pred))

    def count(self, pred) -> int:
        return sum(1 for s in self.spans if pred(s))

    def stats(self, pred) -> tracing.GroupStats:
        """Self task metrics of every matching span (children own theirs)."""
        total = tracing.GroupStats()
        for s in self.spans:
            if pred(s):
                total.add(tracing.span_stats(self.log, s))
        return total

    def catalog_metrics(self) -> dict:
        def named(*names):
            return lambda s: s.name in names

        reads = named("catalog.read", "catalog.read_buckets")
        return {
            "catalog.commit_s": self.wall(named("catalog.commit")),
            "catalog.commit_calls": self.count(named("catalog.commit")),
            "catalog.append_s": self.wall(named("catalog.append")),
            "catalog.append_calls": self.count(named("catalog.append")),
            "catalog.read_s": self.wall(reads),
            "catalog.read_calls": self.count(reads),
        }

    def unit_metrics(self) -> dict:
        root = self.root
        window = self.log.window_stats(root.start, root.end)
        busy = tracing.covered([(j.start, j.end) for j in self.log.jobs], root.start, root.end)
        own = f"{tracing.GROUP_PREFIX}{root.id}"
        unattributed = tracing.covered(
            [(j.start, j.end) for j in self.log.jobs if j.group == own], root.start, root.end)
        return {
            "pipeline.jobs": window.jobs,
            "pipeline.tasks": window.tasks,
            "pipeline.gap_s": root.wall - busy,
            "pipeline.unattributed_job_s": unattributed,
            # child spans plus the job-free part of the root's own time;
            # the rest is jobs the root ran outside any wrapped call
            "pipeline.accounted_share": (root.wall - unattributed) / root.wall,
            "spark.gc_s": window.gc_s,
            "spark.failed_tasks": window.failed_tasks,
        }


WORKLOADS = {w.name: w for w in (ErBatch, CorpusQa)}
