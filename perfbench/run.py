"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_dedup --seed 1 --seconds 20 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics (``layers.py``)
with ``--trace 1``.  Earlier lines carry the host block, the effective Spark
confs and, when traced, the spans.

A run is: ``get_spark`` -> input generation (logged, in no metric) -> load
-> the workload's discarded warm-up op, where it has one -> timed ops until
``--seconds`` are used -> untimed correctness gates.  A traced run is the
same sequence with a Spark event log enabled from ``get_spark`` and spans
recorded; its per-layer numbers describe the same ops ``op_p50_s`` times, and
its tracing overhead is its ``trace.op_p50_s`` minus the untraced runs'
``op_p50_s``.  Everything the run writes goes under ``.perfbench_work/`` in
the working directory and is removed at the end.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import mmap  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

WORK_ROOT = ".perfbench_work"


def host_block() -> dict:
    """nproc, MemTotal, load and a CPU/first-touch probe, so a run's numbers
    can be read against the host they came from."""
    with open("/proc/meminfo") as f:
        mem_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    t0 = time.time()
    s = 0
    for i in range(3_000_000):
        s += i
    cpu_loop_s = time.time() - t0
    n = 128 << 20
    m = mmap.mmap(-1, n)
    t0 = time.time()
    for off in range(0, n, 4096):
        m[off] = 1
    first_touch_gbps = n / (time.time() - t0) / 1e9
    m.close()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gib": mem_kib / (1 << 20),
        "loadavg_before": os.getloadavg(),
        "cpu_loop_s": cpu_loop_s,
        "first_touch_gbps": first_touch_gbps,
    }


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(root: str, work: str) -> None:
    """Point every scratch location of the driver, the JVM and the Python
    workers into ``work``, and let the workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["TSN_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )


def _stop_jvm(spark) -> None:
    """Stop Spark, then the JVM, and wait for every child process."""
    from pyspark import SparkContext

    from tracing import wait_for_descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_for_descendants()


def _timed(wl, seconds: float, rss) -> list:
    """Rounds of ops until ``seconds`` have passed (at least one round).  A
    round that raises counts as one failed op."""
    from workloads import Op

    jvm = wl.spark.sparkContext._jvm
    ops = []
    t0 = time.time()
    k = 0
    while k == 0 or time.time() - t0 < seconds:
        # each round starts from a collected heap, so the JVM's share of
        # the RSS peak does not depend on garbage left by earlier work
        jvm.java.lang.System.gc()
        rss.active = True
        start = time.time()
        try:
            ops += wl.round(k)
        except Exception:
            traceback.print_exc()
            ops.append(Op(f"op{k}", start, time.time() - start, 0, ok=False))
        rss.active = False
        k += 1
    return ops


def _trace_extra(wl, tracer) -> dict:
    """Workload-specific traced measurements, taken after the timed ops:
    scalar kernel sweeps over the pairs table, the streaming batch ledger."""
    from text_similarity_node_spark.config import Algorithm

    from workloads import scalar_similarity

    if wl.name == "pairwise_kernels":
        scalar = {}
        for algo in Algorithm:
            t0 = time.time()
            with tracer.span("kernels.similarity", algo.value):
                for _, s1, s2 in wl.pairs:
                    scalar_similarity(s1, s2, algo)
            scalar[algo.value] = (time.time() - t0, len(wl.pairs))
        return {"scalar": scalar}
    if wl.name == "stream_ingest":
        return {"batch_ledger": wl.batch_ledger()}
    return {}


def run(args, work: str) -> dict:
    from text_similarity_node_spark.session import get_spark

    import layers
    from tracing import RssSampler, Tracer, event_log_file, parse_event_log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    host = host_block()
    print(json.dumps({"host": host}), flush=True)

    tracer = Tracer(bool(args.trace))
    log_dir = os.path.join(work, "eventlog")
    extra_conf = None
    if args.trace:
        os.makedirs(log_dir)
        extra_conf = {"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + log_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"}
    with RssSampler() as rss:
        t0 = time.time()
        with tracer.span("get_spark"):
            spark = get_spark(app_name=f"perfbench-{args.workload}", cores=cores,
                              extra_conf=extra_conf)
        get_spark_s = time.time() - t0
        try:
            wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
            t0 = time.time()
            wl.prepare()
            gen_s = time.time() - t0
            t0 = time.time()
            wl.load()
            load_s = time.time() - t0
            t0 = time.time()
            warm = wl.warmup()
            warm_s = time.time() - t0
            setup_s = get_spark_s + load_s + warm_s
            ran = _timed(wl, args.seconds, rss)
            conf = dict(sorted(spark.sparkContext.getConf().getAll()))
            print(json.dumps({"spark_conf": conf}), flush=True)
            try:
                gate = wl.gate(warm + ran)
            except Exception:
                traceback.print_exc()
                gate = None
                for o in ran:
                    o.ok = False
            extra = _trace_extra(wl, tracer) if args.trace else {}
        finally:
            _stop_jvm(spark)

    attempted = len(ran)
    failed = sum(not o.ok for o in ran)
    op_p50_s = statistics.median(o.wall_s for o in ran)
    print(json.dumps({"run": {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "generate_s": gen_s, "get_spark_s": get_spark_s, "load_s": load_s,
        "warmup_s": warm_s, "process_s": time.time() - T_PROCESS,
        "gate": gate.detail if gate else None,
        "op_walls_s": [o.wall_s for o in ran],
        "peak_rss_mb": {role: rss.peak_mb(role) for role in rss.peak},
        "loadavg_after": os.getloadavg(),
    }}), flush=True)
    if args.trace:
        jobs, writes = parse_event_log(event_log_file(log_dir))
        values = layers.compute(wl, ran, jobs, writes, cores, get_spark_s, rss, extra)
        print(json.dumps({"spans": tracer.spans}), flush=True)
        metrics = {k: {"value": float(v), "unit": layers.CATALOGUE[k][0]}
                   for k, v in values.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "items_per_s": {"value": sum(o.items for o in ran) / sum(o.wall_s for o in ran),
                            "unit": "1/s"},
            "op_p50_s": {"value": op_p50_s, "unit": "s"},
            "pair_recall": {"value": gate.pair_recall if gate else 0.0, "unit": "ratio"},
            "ok_rate": {"value": (attempted - failed) / attempted, "unit": "ratio"},
        }
    return {"correct": gate is not None and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "text_similarity_node_spark")):
        print("perfbench: run from the repository root; text_similarity_node_spark/ "
              "is not in the working directory", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.abspath(os.path.join(WORK_ROOT, str(os.getpid())))
    # the pipeline's bucketed tables land in the session's default warehouse
    # (./spark-warehouse); remove it afterwards unless it was already there
    warehouse = os.path.join(root, "spark-warehouse")
    had_warehouse = os.path.exists(warehouse)
    os.makedirs(work)
    try:
        _isolate(root, work)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)
        if not had_warehouse:
            shutil.rmtree(warehouse, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
