"""Which certa_spark calls the traced run wraps, and the per-layer
metrics it derives from their spans and Spark jobs.

Explain-layer metrics are per explanation and operator metrics per
round, both over the traced operations only; ``run.*`` are totals over
those operations. Times are wall-clock seconds during which a layer had
at least one span open (concurrent spans of the 4-client workload are
not double counted).
"""

from __future__ import annotations

import statistics
from collections import Counter

from spans import Tracer, length, minus, read_jobs, union

EXPLAIN_LAYERS = ("support", "triangles")
OPERATOR_LAYERS = ("graph.pagerank", "graph.louvain", "linalg.kmeans")

# name -> unit, in report order
METRICS = {
    "explainer.self_s": "s",
    "explainer.jobs_per_explain": "count",
    "explainer.driver_gap_s": "s",
    "support.self_s": "s",
    "support.jobs": "count",
    "support.tasks": "count",
    "support.executor_run_s": "s",
    "support.records_read": "count",
    "support.records_read_per_support_pair": "count",
    "support.shuffle_bytes": "bytes",
    "triangles.perturb_s": "s",
    "triangles.jobs": "count",
    "triangles.tasks": "count",
    "triangles.shuffle_bytes": "bytes",
    "matching.predict_calls": "count",
    "matching.rows_scored_per_explain": "count",
    "matching.model_s": "s",
    **{
        f"{layer}{suffix}": unit
        for layer in OPERATOR_LAYERS
        for suffix, unit in (("_s", "s"), (".jobs", "count"),
                             (".shuffle_bytes", "bytes"))
    },
    "run.jobs": "count",
    "run.tasks": "count",
    "run.driver_gap_s": "s",
    "run.tracing_overhead_s": "s",
}
# non-zero only under the pandas model of explain_costly_model, which
# BENCHMARK.json does not run: kept in the report line, not the result
REPORT_ONLY = ("matching.rows_scored_per_explain", "matching.model_s")


def install(spark, workload) -> Tracer:
    """Wrap the layer entry points; tracing starts disabled."""
    import certa_spark.explainer as X
    import certa_spark.operators.support as S
    import certa_spark.operators.triangles as T

    tr = Tracer(spark)
    tr.wrap(X.CertaExplainer, "explain", "explainer")
    tr.wrap(X.CertaExplainer, "explain_batch", "explainer")
    tr.wrap(X, "support_predictions", "support")
    tr.wrap(S, "get_support", None, ("support.pairs", lambda out: out[1]))
    tr.wrap(S, "support_predictions_batch", "support",
            ("support.pairs", lambda out: sum(out[1])))
    tr.wrap(T, "perturb_predict", "triangles")
    tr.wrap(T, "perturb_predict_fused_batch", "triangles")
    matcher = getattr(workload, "matcher", None)
    if matcher is not None:
        tr.wrap(matcher, "predict", None, ("matching.predict_calls", lambda _: 1))
    workload.tracer = tr
    return tr


# job submission times are truncated to the millisecond
SLACK = 0.001


def _in(t: float, intervals) -> bool:
    return any(a - SLACK <= t <= b for a, b in intervals)


def phase_of(t: float, phases) -> str | None:
    """The phase a job submitted at ``t`` ran in: the latest of the
    time-ordered ``(start, end, name)`` phases that began by ``t``, or
    None when ``t`` falls after its end (between two phases)."""
    for a, b, name in reversed(phases):
        if a - SLACK <= t:
            return name if t <= b else None
    return None


def per_layer(spark, tracer: Tracer, ops: list[dict], warm_up) -> tuple[dict, dict]:
    """(metric -> (value, unit), job accounting) for the traced ops."""
    jobs = read_jobs(spark)
    for j in jobs:
        if j["end"] is None:
            j["end"] = j["start"]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    windows = [(o["t0"], o["t1"]) for o in traced]
    timeline = [(float("-inf"), warm_up[0], "setup"), (*warm_up, "warm_up")]
    timeline += [(o["t0"], o["t1"], "traced_ops" if o["traced"] else "untraced_ops")
                 for o in ops]
    for j in jobs:
        j["phase"] = phase_of(j["start"], timeline)
    tjobs = [j for j in jobs if j["phase"] == "traced_ops"]
    job_iv = [(j["start"], j["end"]) for j in tjobs]
    n = sum(o["units"] for o in traced) or 1

    def layer_of(job) -> str:
        return tracer.groups.get(job["group"], "unattributed")

    def total(layer: str, key: str) -> float:
        return sum(j[key] for j in tjobs if layer_of(j) == layer)

    def jobs_of(layer: str) -> int:
        return sum(1 for j in tjobs if layer_of(j) == layer)

    exp_iv = tracer.intervals("explainer")
    child_iv = [iv for layer in EXPLAIN_LAYERS for iv in tracer.intervals(layer)]
    m = {
        "explainer.self_s": minus(exp_iv, child_iv) / n,
        "explainer.jobs_per_explain":
            sum(1 for j in tjobs if _in(j["start"], exp_iv)) / n,
        "explainer.driver_gap_s": minus(exp_iv, job_iv) / n,
        "support.self_s": length(union(tracer.intervals("support"))) / n,
        "support.jobs": jobs_of("support") / n,
        "support.tasks": total("support", "tasks") / n,
        "support.executor_run_s": total("support", "executor_run_s") / n,
        "support.records_read": total("support", "records_read") / n,
        "support.records_read_per_support_pair":
            total("support", "records_read")
            / max(tracer.counts.get("support.pairs", 0), 1),
        "support.shuffle_bytes": total("support", "shuffle_bytes") / n,
        "triangles.perturb_s": length(union(tracer.intervals("triangles"))) / n,
        "triangles.jobs": jobs_of("triangles") / n,
        "triangles.tasks": total("triangles", "tasks") / n,
        "triangles.shuffle_bytes": total("triangles", "shuffle_bytes") / n,
        "matching.predict_calls":
            tracer.counts.get("matching.predict_calls", 0) / n,
        "matching.rows_scored_per_explain":
            sum(o["counters"].get("rows", 0) for o in traced) / n,
        "matching.model_s":
            sum(o["counters"].get("model_s", 0.0) for o in traced) / n,
        "run.jobs": len(tjobs),
        "run.tasks": sum(j["tasks"] for j in tjobs),
        "run.driver_gap_s": minus(windows, job_iv),
        "run.tracing_overhead_s": (
            statistics.median(o["t1"] - o["t0"] for o in traced)
            - statistics.median(o["t1"] - o["t0"] for o in untraced)
            if traced and untraced else 0.0
        ),
    }
    rounds = len(traced) or 1
    for layer in OPERATOR_LAYERS:
        m[f"{layer}_s"] = length(union(tracer.intervals(layer))) / rounds
        m[f"{layer}.jobs"] = jobs_of(layer) / rounds
        m[f"{layer}.shuffle_bytes"] = total(layer, "shuffle_bytes") / rounds

    # every job in the status store, by the phase of the run it ran in
    phases = {name: sum(1 for j in jobs if j["phase"] == name)
              for name in ("setup", "warm_up", "untraced_ops", "traced_ops")}
    phases["between_phases"] = sum(1 for j in jobs if j["phase"] is None)
    # by job group over the whole store, not over the traced windows:
    # a span's jobs must all start inside traced operations, and a
    # traced operation's jobs must each be in a span's group or in none
    grouped = [j for j in jobs if j["group"] in tracer.groups]
    by_layer = dict(Counter(tracer.groups[j["group"]] for j in grouped))
    by_layer["unattributed"] = sum(1 for j in tjobs if j["group"] is None)
    top = max((j["id"] for j in jobs), default=-1) + 1
    checks = {
        "no_job_evicted": len(jobs) == top,
        "every_job_in_a_phase": phases["between_phases"] == 0,
        "span_jobs_inside_traced_ops":
            all(j["phase"] == "traced_ops" for j in grouped),
        "traced_layers_sum_to_run_jobs": sum(by_layer.values()) == len(tjobs),
    }
    accounting = {
        "store_total": len(jobs),
        "max_job_id_plus_1": top,
        "by_phase": phases,
        "traced_by_layer": by_layer,
        **checks,
        "balanced": all(checks.values()),
    }
    return {k: (m[k], u) for k, u in METRICS.items()}, accounting
