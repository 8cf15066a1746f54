"""Per-layer metrics of the traced run: the catalogue and how each is derived.

Each catalogue entry names the workloads that exercise its layer and the
end-to-end metric it should move there (``README.md`` carries the same
map).  A traced run reports every entry; 0 means the workload does not
exercise that layer.  ``BENCHMARK.json`` lists the entries that a listed
workload exercises.
"""

from __future__ import annotations

import statistics

from text_similarity_node_spark.config import Algorithm

from tracing import attribute

# the pipeline's main stages, in ledger order; the ledger's audit rows
# (lsh_band_audit, lsh_prefilter, containment_fp_audit, verify_prefilter)
# fold into the stage they sit in
STAGES = (
    "exact_groups", "signatures", "lsh_candidates", "simhash_candidates",
    "containment_candidates", "verified_pairs", "clusters",
)
SPARK_FIELDS = (("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                ("shuffle_mb", "MiB"), ("spill_mb", "MiB"), ("jobs", "count"))
STORES = ("bands", "docs", "sims", "fps", "pairs")

BD, SI, PK = "batch_dedup", "stream_ingest", "pairwise_kernels"
ALL = (BD, SI, PK)
E2E = "op_p50_s, items_per_s"


def _catalogue() -> dict[str, tuple[str, str, str, tuple[str, ...]]]:
    """name -> (unit, better, end-to-end metric it should move, workloads
    on which it should move it)."""
    c = {
        "session.get_spark_s": ("s", "lower", "setup_s", ALL),
        "trace.op_p50_s": ("s", "lower", "none; minus the untraced op_p50_s it is "
                           "the tracing overhead", ALL),
        "spark.busy_share": ("ratio", "higher", E2E, ALL),
    }
    for role in ("total", "driver", "jvm", "workers"):
        c[f"rss.{role}_mb"] = ("MiB", "lower", "none gated; peak memory (run block)", ALL)
    for st in STAGES:
        c[f"plans.{st}.wall_s"] = ("s", "lower", E2E, (BD,))
        c[f"plans.{st}.rows_out"] = ("count", "lower", E2E, (BD,))
    c["plans.unattributed_s"] = ("s", "lower", E2E, (BD,))
    c["plans.ledger_rows"] = ("count", "lower", E2E, (BD,))
    c["sources.checkpoint_write_s"] = ("s", "lower", E2E, (BD,))
    c["sources.checkpoint_writes"] = ("count", "lower", E2E, (BD,))
    c["sources.warehouse_mb"] = ("MiB", "lower", E2E, (BD,))
    for name, unit, better, on in (
        ("lsh.band_dropped_rows", "count", "lower", (BD,)),
        ("lsh.salted_keys", "count", "lower", (BD,)),
        ("verify.candidates", "count", "lower", (BD, SI)),
        ("verify.pass_ratio", "ratio", "higher", (BD, SI)),
        ("suffix.capped_fingerprints", "count", "lower", (BD,)),
        ("components.clusters", "count", "lower", (BD,)),
    ):
        c[f"operators.{name}"] = (unit, better, E2E, on)
    for window, on in [(st, BD) for st in STAGES] + [("stream_batch", SI), ("kernels", PK)]:
        for f, unit in SPARK_FIELDS:
            moves = E2E + (", rss.jvm_mb" if f in ("gc_s", "spill_mb") else "")
            c[f"spark.{window}.{f}"] = (unit, "lower", moves, (on,))
    for name, unit, better in (
        ("candidates_per_batch", "count", "lower"),
        ("pass_ratio", "ratio", "higher"),
        ("jobs_per_batch", "count", "lower"),
        ("batch_slope_s", "s", "lower"),
        ("batch_p50_s", "s", "lower"),
        ("compact_s", "s", "lower"),
    ):
        c[f"streaming.{name}"] = (unit, better, E2E, (SI,))
    for st in STORES:
        c[f"streaming.state.{st}_mb"] = ("MiB", "lower", E2E, (SI,))
    for algo in Algorithm:
        c[f"functions.{algo.value}.us_per_pair"] = ("us", "lower", "items_per_s", (PK,))
    c["engine.udf_overhead_ratio"] = ("ratio", "lower", "items_per_s", (PK,))
    return c


CATALOGUE = _catalogue()


def _slope(xs: list[float], ys: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den if den else 0.0


def _stage_windows(op) -> list[tuple[str, float, float]]:
    """Per-stage windows of one pipeline op from the cumulative ``elapsed_s``
    of its metrics ledger, plus the remainder as ``unattributed``."""
    ends = {r["stage"]: r["elapsed_s"] for r in op.info["ledger"] if r["stage"] in STAGES}
    out, prev = [], op.start
    for st in STAGES:
        if st in ends:
            end = op.start + ends[st]
            out.append((st, prev, end))
            prev = end
    out.append(("unattributed", prev, op.start + op.wall_s))
    return out


def _ledger_row(op, stage: str) -> dict:
    return next((r for r in op.info["ledger"] if r["stage"] == stage), {})


def _detail_int(row: dict, key: str) -> int:
    for part in (row.get("detail") or "").split(";"):
        k, _, v = part.strip().partition("=")
        if k == key:
            return int(v)
    return 0


def compute(workload, ops, jobs, writes, cores: int, get_spark_s: float,
            rss, extra: dict) -> dict[str, float]:
    """Every catalogue metric for one traced run.

    ``ops`` are its timed ops, ``jobs`` and ``writes`` the parsed event log
    (``tracing.parse_event_log``), ``extra`` workload-specific measurements
    taken after the timed ops (scalar kernel sweeps, the streaming
    ledger)."""
    m = dict.fromkeys(CATALOGUE, 0.0)
    m["session.get_spark_s"] = get_spark_s
    m["trace.op_p50_s"] = statistics.median(o.wall_s for o in ops)
    for role in ("total", "driver", "jvm", "workers"):
        m[f"rss.{role}_mb"] = rss.peak_mb(role)

    name = workload.name
    n_ops = len(ops)
    if name == BD:
        windows = [w for o in ops for w in _stage_windows(o)]
        for st, start, end in windows:
            key = "plans.unattributed_s" if st == "unattributed" else f"plans.{st}.wall_s"
            m[key] += (end - start) / n_ops
        for o in ops:
            for start, end in writes:
                if o.start <= start < o.start + o.wall_s:
                    m["sources.checkpoint_write_s"] += (end - start) / n_ops
                    m["sources.checkpoint_writes"] += 1 / n_ops
        m["sources.warehouse_mb"] = statistics.median(o.info["warehouse_mb"] for o in ops)
        last = ops[-1]
        for st in STAGES:
            m[f"plans.{st}.rows_out"] = _ledger_row(last, st).get("rows_out", 0)
        m["plans.ledger_rows"] = len(last.info["ledger"])
        band = _ledger_row(last, "lsh_band_audit")
        m["operators.lsh.band_dropped_rows"] = band.get("dropped", 0)
        m["operators.lsh.salted_keys"] = _detail_int(band, "salted_keys")
        pre = _ledger_row(last, "verify_prefilter").get("rows_out", 0)
        m["operators.verify.candidates"] = pre
        m["operators.verify.pass_ratio"] = (
            m["plans.verified_pairs.rows_out"] / pre if pre else 0.0
        )
        m["operators.suffix.capped_fingerprints"] = _detail_int(
            _ledger_row(last, "containment_fp_audit"), "capped_fingerprints"
        )
        m["operators.components.clusters"] = last.info["n_clusters"]
    elif name == SI:
        batches = [b for o in ops for b in o.info["batches"]]
        windows = [("stream_batch", start, start + wall) for start, wall in batches]
        ledger = extra["batch_ledger"]
        cands = sum(r["n_candidates"] for r in ledger)
        m["streaming.candidates_per_batch"] = cands / len(ledger)
        m["streaming.pass_ratio"] = sum(r["n_pairs"] for r in ledger) / cands if cands else 0.0
        m["operators.verify.candidates"] = m["streaming.candidates_per_batch"]
        m["operators.verify.pass_ratio"] = m["streaming.pass_ratio"]
        m["streaming.batch_slope_s"] = statistics.median(
            _slope(list(range(len(o.info["batches"]))), [w for _, w in o.info["batches"]])
            for o in ops
        )
        m["streaming.batch_p50_s"] = statistics.median(w for _, w in batches)
        m["streaming.compact_s"] = statistics.median(o.info["compact"][1] for o in ops)
        for st, mb in ops[-1].info["stores_mb"][-1].items():
            m[f"streaming.state.{st}_mb"] = mb
    else:
        windows = [("kernels", o.start, o.start + o.wall_s) for o in ops]
        scalar_s = 0.0
        for algo, (secs, n_pairs) in extra["scalar"].items():
            m[f"functions.{algo}.us_per_pair"] = secs / n_pairs * 1e6
            scalar_s += secs
        m["engine.udf_overhead_ratio"] = m["trace.op_p50_s"] * cores / scalar_s

    per_window = attribute(jobs, windows)
    for w, st in per_window.items():
        if w == "unattributed":
            continue
        for f, _ in SPARK_FIELDS:
            m[f"spark.{w}.{f}"] = getattr(st, f) / n_ops
    if name == SI:
        m["streaming.jobs_per_batch"] = per_window["stream_batch"].jobs / len(batches)
    busy = sum(st.task_s for st in per_window.values())
    m["spark.busy_share"] = busy / (sum(o.wall_s for o in ops) * cores)
    return m
