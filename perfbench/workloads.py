"""The benchmark's workloads, their fixed configs and their correctness gates.

Every workload drives the package only through its public functions
(``generate_clips``, ``NearDupPipeline.run``, ``IncrementalDedup``,
``SimilarityEngine.similarity_batch_df``, ``kernels.similarity``).  Configs
live here, not in the repository's ``bench.py``, so an edit there cannot
move these numbers.  Only the fields that define a workload's semantics are
set; execution settings (shuffle partitions, AQE, salting, checkpoints) stay
at the program defaults so a change to those defaults shows up.

A workload has five phases, called in this order by ``run.py``:

* ``prepare``: generate and write the seeded input.  The benchmark's own
  cost, logged but in no metric.
* ``load``: read the input back; part of ``setup_s``.
* ``warmup``: the discarded full-size warm-up op, where the workload has
  one; part of ``setup_s``.
* ``round``: timed ops, repeated until the run's seconds are used up.
* ``gate``: untimed correctness checks over the ops' outputs.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from text_similarity_node_spark.config import (
    Algorithm,
    AlgorithmConfig,
    PipelineConfig,
    Preprocessing,
)
from text_similarity_node_spark.engine import SimilarityEngine
from text_similarity_node_spark.functions import kernels
from text_similarity_node_spark.plans.pipeline import NearDupPipeline
from text_similarity_node_spark.sources.clips import ClipsSpec, generate_clips
from text_similarity_node_spark.streaming.incremental import IncrementalDedup
from text_similarity_node_spark.streaming.ledger import read_batch_metrics

from tracing import Tracer, dir_mb

THRESHOLD = 0.8
NGRAM = 5
# the reference semantics the recall oracle scores planted pairs with
ORACLE_CFG = AlgorithmConfig(
    algorithm=Algorithm.JACCARD, preprocessing=Preprocessing.NGRAM, ngram_size=NGRAM
)
RECALL_FLOOR = 0.99


@dataclass
class Op:
    """One timed op: its wall time, the items it did and whether it held."""

    op_id: str
    start: float
    wall_s: float
    items: int
    ok: bool = True
    info: dict = field(default_factory=dict)


@dataclass
class Gate:
    pair_recall: float
    detail: dict


def _planted_pairs(transcripts: dict, truth: dict) -> list[tuple[str, str, float]]:
    """Every within-cluster pair of the generator's planted clusters, scored
    with the scalar reference kernel (Jaccard over character 5-grams)."""
    clusters: dict[str, list[str]] = {}
    for clip, cl in truth.items():
        clusters.setdefault(cl, []).append(clip)
    return [
        (a, b, kernels.similarity(transcripts[a], transcripts[b], ORACLE_CFG))
        for members in clusters.values()
        for a, b in itertools.combinations(sorted(members), 2)
    ]


def _recall(planted, recovered) -> tuple[float, int]:
    """Share of planted pairs at or above threshold that ``recovered(a, b)``
    accepts, and how many such pairs there were."""
    due = [(a, b) for a, b, s in planted if s >= THRESHOLD]
    if not due:
        raise RuntimeError("corpus has no planted pair at or above threshold")
    return sum(1 for a, b in due if recovered(a, b)) / len(due), len(due)


def _below_threshold(pairs, transcripts) -> int:
    """Output pairs the reference kernel scores below threshold."""
    return sum(
        1
        for a, b in pairs
        if kernels.similarity(transcripts[a], transcripts[b], ORACLE_CFG) < THRESHOLD
    )


def _fail(ops: list[Op]) -> None:
    for o in ops:
        o.ok = False


class _ClipsWorkload:
    """Shared input handling: a seeded ``ClipsSpec`` corpus written once to
    parquet, with its planted truth."""

    name = ""
    n_clips = 0

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer, scale: float = 1.0):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.tr = tracer
        self.n = max(int(self.n_clips * scale), 40)
        self.clips_path = os.path.join(work_dir, "clips")
        self.truth_path = os.path.join(work_dir, "truth")

    def prepare(self) -> None:
        with self.tr.span("generate_clips"):
            clips, truth = generate_clips(
                self.spark, ClipsSpec(n_clips=self.n, seed=self.seed)
            )
            clips.write.mode("overwrite").parquet(self.clips_path)
            truth.write.mode("overwrite").parquet(self.truth_path)

    def _oracle_inputs(self) -> tuple[dict, dict]:
        transcripts = {
            r.clip_id: r.transcript
            for r in self.spark.read.parquet(self.clips_path)
            .select("clip_id", "transcript").collect()
        }
        truth = {
            r.clip_id: r.true_cluster_id
            for r in self.spark.read.parquet(self.truth_path).collect()
        }
        return transcripts, truth

    def _fresh_dir(self, name: str) -> str:
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        return d


class BatchDedup(_ClipsWorkload):
    """One op is ``NearDupPipeline.run`` over the corpus with all three
    candidate tiers, into a fresh warehouse, ending with a distinct
    ``cluster_id`` count."""

    name = "batch_dedup"
    n_clips = 600

    def config(self, run_id: str) -> PipelineConfig:
        return PipelineConfig(ngram_size=NGRAM, verify_threshold=THRESHOLD, run_id=run_id)

    def load(self) -> None:
        self.clips = self.spark.read.parquet(self.clips_path)
        self.clips.count()
        self._last: Op | None = None

    def _op(self, op_id: str) -> Op:
        if self._last is not None:
            # only the newest op's output is kept, for the gate
            self._last.info.pop("result")
            shutil.rmtree(self._last.info["warehouse"], ignore_errors=True)
        self.spark.catalog.clearCache()
        wh = self._fresh_dir(f"wh_{op_id}")
        t0 = time.time()
        with self.tr.span("NearDupPipeline.run", op_id):
            res = NearDupPipeline(self.spark, self.config(op_id), wh).run(self.clips)
            n_clusters = res.clusters.select("cluster_id").distinct().count()
        wall = time.time() - t0
        op = Op(op_id, t0, wall, self.n, info={
            "n_clusters": n_clusters, "warehouse": wh, "result": res,
        })
        if self.tr.enabled:
            op.info["ledger"] = [r.asDict() for r in res.metrics.collect()]
            op.info["warehouse_mb"] = dir_mb(wh)
        self._last = op
        return op

    def warmup(self) -> list[Op]:
        # No warm-up pass: it would cost half as much again as the timed one,
        # which the run budget has no room for (README.md, "Run budget").
        # Every run times the first pass, after input generation and load
        # have started the JVM and the Python workers.
        return []

    def round(self, k: int) -> list[Op]:
        return [self._op(f"op{k}")]

    def gate(self, ops: list[Op]) -> Gate:
        """``n_clusters`` identical across ops (when a run has several); for
        the last op: every verified pair lies inside one cluster, every
        clip has a cluster, recall of the clusters against the planted
        pairs, and no verified pair below threshold under the reference
        kernel."""
        done = [o for o in ops if o.ok]
        want = statistics.mode(o.info["n_clusters"] for o in done)
        _fail([o for o in done if o.info["n_clusters"] != want])
        res = self._last.info["result"]
        cluster_of = {r.clip_id: r.cluster_id for r in res.clusters.collect()}
        verified = [(r.id1, r.id2) for r in res.verified_pairs.select("id1", "id2").collect()]
        transcripts, truth = self._oracle_inputs()
        split = sum(1 for a, b in verified if cluster_of.get(a) != cluster_of.get(b))
        unclustered = len(set(transcripts) - set(cluster_of))
        recall, n_due = _recall(
            _planted_pairs(transcripts, truth), lambda a, b: cluster_of[a] == cluster_of[b]
        )
        below = _below_threshold(verified, transcripts)
        if recall < RECALL_FLOOR or below or split or unclustered:
            _fail([self._last])
        return Gate(recall, {
            "n_clusters": want, "planted_due": n_due, "verified": len(verified),
            "below_threshold": below, "split_pairs": split, "unclustered": unclustered,
        })


class StreamIngest(_ClipsWorkload):
    """The corpus cut into id-ordered micro-batches.  One op is one pass on
    fresh state: ``IncrementalDedup.process_batch`` for every batch, then
    ``compact_stores()``.  The config is the soak's contract regime: all
    tiers, no exact-dedup canonicalization, ``substring_min_len=64``, cap
    off."""

    name = "stream_ingest"
    n_clips = 400
    # two batches: the first runs on empty state, the second probes the
    # first's stores, so both paths of process_batch are timed
    n_batches = 2

    def config(self, run_id: str) -> PipelineConfig:
        return PipelineConfig(
            ngram_size=NGRAM,
            verify_threshold=THRESHOLD,
            exact_dedup_first=False,
            substring_min_len=64,
            fingerprint_cap=10**9,
            run_id=run_id,
        )

    def load(self) -> None:
        clips = self.spark.read.parquet(self.clips_path)
        # clip ids are zero-padded indices: slicing on them gives the
        # id-ordered arrival the streaming sink's contract assumes
        ordered = clips.select("clip_id", "transcript").withColumn(
            "_ord", F.regexp_extract("clip_id", r"(\d+)$", 1).cast("long")
        )
        edges = [self.n * i // self.n_batches for i in range(self.n_batches + 1)]
        self.batches = [
            ordered.filter((F.col("_ord") >= lo) & (F.col("_ord") < hi)).drop("_ord")
            for lo, hi in zip(edges, edges[1:])
        ]
        clips.count()
        self.state = ""

    def _store_mb(self) -> dict[str, float]:
        s = self.sink
        return {name: dir_mb(path) for name, path in (
            ("bands", s.bands_path), ("docs", s.docs_path), ("sims", s.sims_path),
            ("fps", s.fps_path), ("pairs", s.pairs_path))}

    def _pass(self, op_id: str) -> Op:
        if self.state:
            shutil.rmtree(self.state, ignore_errors=True)
        self.spark.catalog.clearCache()
        self.state = self._fresh_dir(f"state_{op_id}")
        self.sink = IncrementalDedup(self.spark, self.config(op_id), self.state)
        batches, stores = [], []
        t0 = time.time()
        with self.tr.span("stream_pass", op_id):
            for b, df in enumerate(self.batches):
                tb = time.time()
                with self.tr.span("process_batch", f"{op_id}.{b}"):
                    self.sink.process_batch(df, b)
                batches.append((tb, time.time() - tb))
                if self.tr.enabled:
                    stores.append(self._store_mb())
            tc = time.time()
            with self.tr.span("compact_stores", op_id):
                self.sink.compact_stores()
            compact = (tc, time.time() - tc)
        return Op(op_id, t0, time.time() - t0, self.n, info={
            "batches": batches, "compact": compact, "stores_mb": stores,
        })

    def warmup(self) -> list[Op]:
        # No warm-up pass, for the same reason as BatchDedup's.
        return []

    def round(self, k: int) -> list[Op]:
        return [self._pass(f"op{k}")]

    def batch_ledger(self) -> list[dict]:
        return [r.asDict() for r in read_batch_metrics(self.spark, self.state).collect()]

    def gate(self, ops: list[Op]) -> Gate:
        """Recall of the last pass's emitted pairs against the planted pairs,
        and no emitted pair below threshold.  Traced runs also check that the
        pair set equals the one-shot pipeline's at the same config
        (distributed anti-join counts): that pipeline takes about a quarter
        of an untraced run, which the run budget has no room for in every
        run (README.md, "Correctness gates")."""
        stream = self.sink.verified_pairs().select("id1", "id2").distinct().localCheckpoint()
        missing = extra = None
        if self.tr.enabled:
            missing, extra = self._oneshot_diff(stream)
        emitted = {(r.id1, r.id2) for r in stream.collect()}
        transcripts, truth = self._oracle_inputs()
        recall, n_due = _recall(
            _planted_pairs(transcripts, truth), lambda a, b: (a, b) in emitted
        )
        below = _below_threshold(emitted, transcripts)
        if missing or extra or recall < RECALL_FLOOR or below:
            _fail(ops[-1:])
        return Gate(recall, {
            "pairs": len(emitted), "missing_vs_oneshot": missing,
            "extra_vs_oneshot": extra, "planted_due": n_due, "below_threshold": below,
        })

    def _oneshot_diff(self, stream) -> tuple[int, int]:
        """Pairs the one-shot pipeline finds that ``stream`` lacks, and the
        reverse."""
        wh = self._fresh_dir("wh_oneshot")
        with self.tr.span("NearDupPipeline.run", "oneshot"):
            res = NearDupPipeline(self.spark, self.config("oneshot"), wh).run(
                self.spark.read.parquet(self.clips_path)
            )
        oneshot = res.verified_pairs.select("id1", "id2").distinct().localCheckpoint()
        missing = oneshot.join(stream, ["id1", "id2"], "left_anti").count()
        extra = stream.join(oneshot, ["id1", "id2"], "left_anti").count()
        shutil.rmtree(wh, ignore_errors=True)
        return missing, extra


def algorithm_overrides(algo: Algorithm) -> dict:
    """Per-algorithm overrides on the engine's default config."""
    return {"alpha": 0.5, "beta": 0.5} if algo == Algorithm.TVERSKY else {}


def scalar_similarity(s1: str, s2: str, algo: Algorithm) -> float | None:
    """The scalar kernel, with None where it raises (the UDF's null)."""
    try:
        return kernels.similarity(
            s1, s2, AlgorithmConfig(algorithm=algo, **algorithm_overrides(algo))
        )
    except Exception:
        return None


class PairwiseKernels(_ClipsWorkload):
    """One op is one noop-write job holding all 13
    ``SimilarityEngine.similarity_batch_df`` columns over a fixed table of
    planted near-dup transcript pairs: half cut to the reference harness's
    50 characters, half to 240."""

    name = "pairwise_kernels"
    n_clips = 1200
    n_pairs = 320
    short_chars = 50
    # long pairs are cut to one length too: edit-distance cost grows with
    # the product of the lengths, so uncut transcripts (20-60 words) would
    # make the op's work, and its time, depend on the seed
    long_chars = 240
    sample = 32  # pairs the gate checks against the scalar kernels

    def load(self) -> None:
        transcripts, truth = self._oracle_inputs()
        clusters: dict[str, list[str]] = {}
        for clip, cl in sorted(truth.items()):
            clusters.setdefault(cl, []).append(clip)
        pairs = [
            (transcripts[m[0]], transcripts[other])
            for m in clusters.values()
            for other in m[1:]
        ]
        # pairs equal after the cut (exact copies, a boilerplate suffix cut
        # away) take the kernels' identical-input quick answer; leaving them
        # out keeps every row a full computation, whatever the seed
        def differ(p, cut):
            return min(map(len, p)) >= cut and p[0][:cut] != p[1][:cut]

        half = self.n_pairs // 2
        long = [p for p in pairs if differ(p, self.long_chars)][:half]
        short = [p for p in pairs if p not in long and differ(p, self.short_chars)][:half]
        if not long or not short:
            raise RuntimeError("corpus too small for the pairs table")
        # alternate short and long rows, so the gate's id sample holds both
        rows = []
        for s, lg in itertools.zip_longest(short, long):
            rows += [(p, cut) for p, cut in ((s, self.short_chars), (lg, self.long_chars)) if p]
        self.pairs = [(i, a[:cut], b[:cut]) for i, ((a, b), cut) in enumerate(rows)]
        # the table's layout is the benchmark's input, not an execution
        # setting: several partitions per core keep task tails short
        cores = self.spark.sparkContext.defaultParallelism
        self.table = (
            self.spark.createDataFrame(self.pairs, "id long, s1 string, s2 string")
            .repartition(4 * cores)
            .persist()
        )
        self.table.count()
        engine = SimilarityEngine(self.spark)
        with self.tr.span("similarity_batch_df"):
            out = self.table
            for algo in Algorithm:
                out = engine.similarity_batch_df(
                    out, algorithm=algo, out_col=algo.value, **algorithm_overrides(algo)
                )
        self.scored = out

    def _op(self, op_id: str) -> Op:
        t0 = time.time()
        with self.tr.span("similarity_batch_df.write", op_id):
            self.scored.write.format("noop").mode("overwrite").save()
        return Op(op_id, t0, time.time() - t0, len(self.pairs) * len(Algorithm))

    def warmup(self) -> list[Op]:
        return [self._op("warmup")]

    def round(self, k: int) -> list[Op]:
        return [self._op(f"op{k}")]

    def gate(self, ops: list[Op]) -> Gate:
        """UDF outputs equal the scalar kernels on a fixed sample (null where
        the scalar raises).  ``pair_recall`` is the share of sample cells the
        scalar scores at or above threshold that the UDF does too."""
        rows = self.scored.filter(F.col("id") < self.sample).collect()
        mismatched = due = hit = 0
        for r in rows:
            for algo in Algorithm:
                want, got = scalar_similarity(r.s1, r.s2, algo), r[algo.value]
                mismatched += want != got
                if want is not None and want >= THRESHOLD:
                    due += 1
                    hit += got is not None and got >= THRESHOLD
        if mismatched or len(rows) != min(self.sample, len(self.pairs)) or not due:
            _fail(ops)
        return Gate(hit / due if due else 0.0, {
            "table_pairs": len(self.pairs), "sample_rows": len(rows),
            "mismatched_cells": mismatched, "due_cells": due,
        })


WORKLOADS = {w.name: w for w in (BatchDedup, StreamIngest, PairwiseKernels)}
