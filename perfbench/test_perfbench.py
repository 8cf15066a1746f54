"""Smoke tests for the benchmark: each workload at tiny size on two seeds,
with the per-layer numbers of its ops, the event-log parser on a log
generated here, the RSS sampler, and the benchmark's own contract files.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = 0.1


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    """One local session for the module, with an event log in a temp dir."""
    base = tmp_path_factory.mktemp("spark")
    os.environ["TSN_LOCAL_DIR"] = str(base / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    from text_similarity_node_spark.session import get_spark

    log_dir = base / "eventlog"
    log_dir.mkdir()
    session = get_spark(
        app_name="perfbench-tests", cores=2,
        extra_conf={"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{log_dir}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.sql.warehouse.dir": str(base / "warehouse")},
    )
    session.log_dir = str(log_dir)
    yield session
    session.stop()


def _input_digest(spark, path: str) -> int:
    """Order-free hash of a corpus's rows."""
    from pyspark.sql import functions as F

    return spark.read.parquet(path).agg(
        F.sum(F.xxhash64("clip_id", "transcript") % 1000003)
    ).collect()[0][0]


def _drive(spark, name: str, seed: int, work):
    from tracing import Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[name](spark, str(work), seed, Tracer(True), scale=SCALE)
    wl.prepare()
    wl.load()
    ops = wl.warmup()
    # two pipeline passes, so the gate compares n_clusters across ops
    for k in range(2 if name == "batch_dedup" else 1):
        ops += wl.round(k)
    gate = wl.gate(ops)
    return wl, ops, gate


@pytest.mark.parametrize("name", ["pairwise_kernels", "batch_dedup", "stream_ingest"])
def test_workload_passes_gates_on_two_seeds(spark, tmp_path, name):
    digests = []
    for seed in (3, 4):
        wl, ops, gate = _drive(spark, name, seed, tmp_path / str(seed))
        assert ops and all(o.ok for o in ops), (seed, gate.detail)
        assert gate.pair_recall >= 0.99, (seed, gate.detail)
        assert sum(o.items for o in ops) > 0
        if name == "stream_ingest":  # the traced-run equality check ran
            assert gate.detail["missing_vs_oneshot"] == gate.detail["extra_vs_oneshot"] == 0
        digests.append(_input_digest(spark, wl.clips_path))
    assert digests[0] != digests[1], "a new seed must change the input"

    # the per-layer numbers of the last seed's ops, as a traced run takes them
    import layers
    from run import _trace_extra
    from tracing import RssSampler, Tracer, parse_event_log

    jobs, writes = parse_event_log(_event_log(spark))
    values = layers.compute(wl, ops, jobs, writes, 2, 1.0, RssSampler(),
                            _trace_extra(wl, Tracer(False)))
    assert set(values) == set(layers.CATALOGUE)
    window, own = {
        "batch_dedup": ("signatures", "sources.checkpoint_writes"),
        "stream_ingest": ("stream_batch", "streaming.batch_p50_s"),
        "pairwise_kernels": ("kernels", "engine.udf_overhead_ratio"),
    }[name]
    assert values[f"spark.{window}.jobs"] > 0 and values[own] > 0, values


def _event_log(spark) -> str:
    """The session's one event log, after the last job-end events are out."""
    time.sleep(1)
    (log,) = [os.path.join(spark.log_dir, n) for n in os.listdir(spark.log_dir)]
    return log


def test_event_log_jobs_land_in_their_windows(spark):
    from pyspark.sql import functions as F

    from tracing import attribute, parse_event_log

    t0 = time.time()
    spark.range(2000).write.format("noop").mode("overwrite").save()
    t1 = time.time()
    spark.range(2000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    t2 = time.time()
    spark.range(2000).write.mode("overwrite").parquet(os.path.join(spark.log_dir, "..", "p"))
    t3 = time.time()
    jobs, writes = parse_event_log(_event_log(spark))
    got = attribute(jobs, [("scan", t0, t1), ("agg", t1, t2)])
    assert got["scan"].jobs >= 1 and got["agg"].jobs >= 1
    assert got["scan"].tasks >= 1 and got["scan"].task_s >= 0
    assert got["agg"].shuffle_mb > 0 and got["scan"].shuffle_mb == 0
    # every job submitted inside a window is counted once
    inside = [j for j in jobs if t0 <= j.submit_s < t2]
    assert got["scan"].jobs + got["agg"].jobs == len(inside)
    # the parquet write is the only file-writing execution in [t0, t3)
    (write,) = [w for w in writes if t0 <= w[0] < t3]
    assert t2 <= write[0] <= write[1] <= t3


def test_rss_sampler_splits_jvm_from_driver(spark):
    from tracing import RssSampler

    cur = RssSampler().sample()
    assert cur["driver"] > 0 and cur["jvm"] > 0
    assert cur["total"] == cur["driver"] + cur["jvm"] + cur["workers"]


def test_benchmark_json_matches_catalogue():
    import layers

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["paths"] == ["perfbench"]
    assert {m["name"] for m in bench["end_to_end"]} == {
        "setup_s", "items_per_s", "op_p50_s", "pair_recall", "ok_rate",
    }
    workloads = {w["name"] for w in bench["workloads"]}
    assert workloads == {"batch_dedup", "stream_ingest"}
    # every per-layer metric a listed workload exercises, and no other
    listed = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert listed == {k: v[:2] for k, v in layers.CATALOGUE.items() if workloads & set(v[3])}


def test_run_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_dedup",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert "correct" not in p.stdout
