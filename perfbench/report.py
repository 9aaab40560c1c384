"""Turns one run's raw record into the benchmark's metrics.

The JVM side records every operation as measured (kind, name, ms, ok,
error). Here the operator_suite outputs are checked against the DuckDB
oracle, failures are counted, failed operations are dropped from every
latency sample, and the metrics are computed by name.
"""
import os
import statistics

# Foreground operation ("op") and batch job ("batch") of each workload:
# op_p50_ms is the median latency of the first, batch_s the median wall
# of the second.
KINDS = {
    "ingest": ("increment", "rebuild"),
    "dashboard": ("kpi", "refresh"),
    "operator_suite": ("headliner", "pass"),
}
# Aggregates of other operations; they are not attempts of their own.
DERIVED = {"refresh", "pass"}

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "batch_s": "s",
}

_WRITES = ["dim_source", "dim_contrat", "dim_titre", "dim_compagnie",
           "dim_niveau_etudes", "dim_niveau_experience", "dim_date",
           "dim_skill", "fact_offre", "offre_skill", "quarantine"]
KPIS = ["offers_by_source_month", "top_skills", "top_companies",
        "by_contract", "by_education", "by_experience", "month_slice",
        "skill_pairs"]


def headliners():
    """(module, name) of the frozen headliners, in file order."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "headliners.txt")) as f:
        return [tuple(ln.split()) for ln in f
                if ln.strip() and not ln.startswith("#")]


HEADLINERS = headliners()
MODULES = sorted({m for m, _ in HEADLINERS})

PER_LAYER = {
    "jsonlake.read_ms": "ms",
    "jsonlake.cache_resident_mb": "MB",
    "pipeline.clean_ms": "ms",
    "pipeline.enrich_ms": "ms",
    "pipeline.skills_ms": "ms",
    "pipeline.skills_terms_probed": "count",
    "pipeline.skills_hit_ratio": "ratio",
    "pipeline.dims_ms": "ms",
    **{f"warehouse.write_ms.{t}": "ms" for t in _WRITES},
    "warehouse.bytes_mb": "MB",
    "warehouse.files": "count",
    "warehouse.write_amp": "ratio",
    "streaming.trigger_ms": "ms",
    "streaming.jobs_per_increment": "count",
    "warehouse.upsert_dim_ms": "ms",
    "dq.gate_ms": "ms",
    "spark.jobs": "count",
    "spark.sql_executions": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_ms": "ms",
    "spark.task_spread": "ratio",
    **{f"dash.{k}.{m}": u for k in KPIS
       for m, u in [("plan_ms", "ms"), ("exec_ms", "ms"),
                    ("rows_read_per_row", "ratio")]},
    **{f"suite.{n}.wall_ms": "ms" for _, n in HEADLINERS},
    **{f"suite.{m}.{p}_ms": "ms" for m in MODULES
       for p in ("build", "plan", "exec")},
    "suite.shuffle_write_mb": "MB",
    "suite.spill_mb": "MB",
    "trace.listener_ms": "ms",
    "trace.forced_ms": "ms",
    "jvm.peak_rss_mb": "MB",
}

# Layer figures the traced run prints as `metric` lines but BENCHMARK.json
# does not list (it holds at most 128): counts the generated input fixes,
# which no optimisation may move, and the tracer's own overhead.
EXTRA_LAYERS = {
    "jsonlake.rows_in": "count",
    "jsonlake.quarantined": "count",
    "pipeline.clean_keep_ratio": "ratio",
    "pipeline.dates_unparsed": "count",
    "pipeline.skills_links": "count",
    "pipeline.dim_values": "count",
    "trace.overhead_ms": "ms",
}

# The per-layer metrics each workload's traced run must measure; the
# rest are layers the workload bypasses, reported as 0.
APPLIES = {
    "ingest": lambda n: not n.startswith(("dash.", "suite.")),
    "dashboard": lambda n: n.startswith(("dash.", "suite.", "spark.",
                                         "jvm.")) or
    n in ("warehouse.bytes_mb", "warehouse.files"),
    "operator_suite": lambda n: n.startswith(("suite.", "spark.", "jvm.")),
}
# Operations whose outputs are headliner results checked against DuckDB.
SUITE_KINDS = ("headliner", "traced_headliner")


def layer_values(workload, layers):
    """Every per-layer metric, 0 for bypassed layers; None marks a metric
    the workload should have measured but did not."""
    return {n: layers.get(n, None if APPLIES[workload](n) else 0.0)
            for n in PER_LAYER}


def mark_suite_outputs(ops, mismatches):
    """Fail every headliner operation whose output disagrees with the
    oracle or was not written; `mismatches` maps operation names to the
    reason."""
    for op in ops:
        if op["kind"] in SUITE_KINDS and op["name"] in mismatches:
            op["ok"] = False
            op["error"] = f"oracle: {mismatches[op['name']]}"
    return ops


def summarize(workload, record):
    """(attempted, failed, end-to-end values, other named metrics)."""
    ops = record["ops"]
    attempts = [o for o in ops if o["kind"] not in DERIVED]
    failed = [o for o in attempts if not o["ok"]]
    op_kind, batch_kind = KINDS[workload]

    def sample(kind):
        return [o["ms"] for o in ops if o["kind"] == kind and o["ok"]]

    op_ms, batch_ms = sample(op_kind), sample(batch_kind)
    values = {
        "setup_s": record["setup_s"],
        "op_p50_ms": statistics.median(op_ms) if op_ms else None,
        "batch_s": statistics.median(batch_ms) / 1e3 if batch_ms else None,
    }
    named = {"fail_frac": (len(failed) / max(1, len(attempts)), "ratio"),
             "op_samples": (len(op_ms), "count")}
    return len(attempts), len(failed), values, named


def result_line(attempted, failed, metrics, units):
    """The run's final JSON object; `correct` only if nothing failed and
    every metric was measured."""
    ok = failed == 0 and all(v is not None for v in metrics.values())
    return {
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
