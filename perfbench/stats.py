"""Reductions from raw samples to metrics: percentiles, span self time,
the per-layer metric set and the tracing-overhead report."""
import json
import math
import os
import statistics


def percentile(values, q, min_beyond=10):
    """The q-th percentile (nearest rank) of `values`, or None when fewer
    than `min_beyond` samples lie beyond it, so a tail is never reported
    from a handful of samples."""
    v = sorted(values)
    if not v:
        return None
    k = max(0, math.ceil(q / 100.0 * len(v)) - 1)
    if len(v) - 1 - k < min_beyond:
        return None
    return v[k]


def median(values):
    return statistics.median(values) if values else 0.0


def self_times(spans):
    """Self time per span: its duration minus the part of its interval
    covered by its children (overlapping children counted once).
    spans: [id, parent, name, layer, t0, t1]; returns {id: microseconds}."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    out = {}
    for s in spans:
        sid, t0, t1 = s[0], s[4], s[5]
        covered, end = 0, t0
        for c in sorted(kids.get(sid, []), key=lambda c: c[4]):
            a, b = max(c[4], end), min(c[5], t1)
            if b > a:
                covered += b - a
                end = b
        out[sid] = (t1 - t0) - covered
    return out


def layer_self_s(spans):
    """Total self time per layer, in seconds."""
    st = self_times(spans)
    tot = {}
    for s in spans:
        tot[s[3]] = tot.get(s[3], 0) + st[s[0]]
    return {k: v / 1e6 for k, v in tot.items()}


def measured_intervals(raw):
    """The intervals a traced run's per-layer figures cover: the timed
    window, plus queue-serve's coverage runs of the entries it missed."""
    w0, w1 = raw["window_us"]
    return [(w0, w1)] + [(c[2], c[3]) for c in raw.get("extra", {}).get("coverage", [])]


def measured_spans(raw):
    """Spans inside the measured intervals, with the Spark jobs of the ops
    among them (job spans are on Spark's clock, so they go by parent).
    Set-up, drain and flush work, the harness's own checks and jobs that
    carried no op are left out."""
    iv = measured_intervals(raw)
    spans = raw.get("spans", [])
    own = [sp for sp in spans if sp[3] != "spark"
           and any(a <= sp[4] and sp[5] <= b for a, b in iv)]
    ids = {sp[0] for sp in own}
    return own + [sp for sp in spans if sp[3] == "spark" and sp[1] in ids]


# Every per-layer metric, with its unit: a traced run of any workload
# prints all of them (0 where the workload does not touch the layer).
# Each is measured by one of the gated workloads; the curation stage
# times are figures of the ungated curation-batch run only.
PER_LAYER = {
    **{f"queue.{n}_ms": "ms" for n in ("pick", "overview", "pulse", "replay", "routing",
                                       "etl", "moves", "namespace", "dispatch")},
    "rounds.strata_ms": "ms", "rounds.summary_ms": "ms",
    "memo.builds": "count", "memo.build_s": "s",
    "ckpt.sweep_ms": "ms", "ckpt.pinned_mb": "MB",
    "streaming.batch_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.rows_per_batch": "rows", "streaming.batches": "count",
    "streaming.state_rows": "rows", "streaming.state_mb": "MB",
    "streaming.backlog_peak_events": "events", "streaming.generator_late_ms": "ms",
    "streaming.stalled_emitted": "ratio",
    "llm.funnel_ms": "ms",
    "sources.write_s": "s",
    "relational.core_ms": "ms", "relational.events_ms": "ms",
    "plans.asof_ms": "ms", "plans.topk_ms": "ms",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.task_busy_s": "s", "spark.core_busy_ratio": "ratio",
    "spark.scan_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.task_skew": "ratio", "spark.gc_s": "s", "jvm.jit_ms": "ms",
    **{f"self.{n}_s": "s" for n in ("queue", "rounds", "relational", "plans", "llm",
                                    "sources", "streaming", "spark", "client")},
}


def per_layer(raw, from_workload):
    """Every PER_LAYER metric from a traced run's raw report.
    `from_workload` holds the values the workload reducer computed
    (per-op p50s, stream and pipeline figures)."""
    m = {k: 0.0 for k in PER_LAYER}
    pays = raw.get("memo_pays", [])
    m["memo.builds"] = float(len(pays))
    m["memo.build_s"] = float(sum(p[2] for p in pays))
    m["ckpt.sweep_ms"] = median(raw.get("sweep_ms", []))
    m["ckpt.pinned_mb"] = float(raw.get("pinned_mb", 0.0))
    per_op = raw.get("spark_per_op", {})
    spans = measured_spans(raw)
    timed = {str(sp[0]) for sp in spans}
    ops = [v for k, v in per_op.items() if k in timed]
    if ops:
        m["spark.jobs_per_op"] = median([o["jobs"] for o in ops])
        m["spark.stages_per_op"] = median([o["stages"] for o in ops])
        m["spark.tasks_per_op"] = median([o["tasks"] for o in ops])
        tot = {f: sum(o[f] for o in ops) for f in ops[0]}
        m["spark.task_busy_s"] = tot["run_ms"] / 1e3
        busy = sum(b - a for a, b in measured_intervals(raw)) / 1e6
        m["spark.core_busy_ratio"] = tot["run_ms"] / 1e3 / (max(1e-9, busy) * raw["cores"])
        m["spark.scan_mb"] = tot["scan_b"] / 2**20
        m["spark.shuffle_write_mb"] = tot["shuffle_w_b"] / 2**20
        m["spark.shuffle_read_mb"] = tot["shuffle_r_b"] / 2**20
        m["spark.spill_mb"] = tot["spill_b"] / 2**20
        m["spark.gc_s"] = tot["gc_ms"] / 1e3
    m["spark.task_skew"] = median([v for op, v in raw.get("task_skew", []) if str(op) in timed])
    m["jvm.jit_ms"] = float(raw.get("jit_ms", 0))
    for layer, secs in layer_self_s(spans).items():
        if f"self.{layer}_s" in m:
            m[f"self.{layer}_s"] = secs
    for k, v in from_workload.items():
        if k in m and v is not None:
            m[k] = float(v)
    return {k: (float(v), PER_LAYER[k]) for k, v in m.items()}


def trace_report(raw, layer, e2e_traced, untraced_result_path):
    """Per-layer self time and counts, plus the tracing overhead: the
    traced run's end-to-end figures minus the untraced run's (same
    workload and seed), when an untraced result is on disk."""
    report = {"per_layer": {k: v for k, (v, _) in layer.items()},
              "traced_end_to_end": {k: v for k, (v, _) in e2e_traced.items()}}
    if os.path.exists(untraced_result_path):
        with open(untraced_result_path) as f:
            base = json.load(f)
        report["untraced_end_to_end"] = base
        report["tracing_overhead"] = {
            k: {"delta": e2e_traced[k][0] - base[k],
                "share": (e2e_traced[k][0] - base[k]) / base[k] if base[k] else None}
            for k in base if k in e2e_traced}
    else:
        report["tracing_overhead"] = "no untraced run of this workload and seed on disk"
    return report
