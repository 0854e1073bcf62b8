"""The benchmark's workloads: what each generates from its seed, how the
harness is called, and how raw samples reduce to metrics.

End-to-end metrics, the same three names on every workload:
  setup_s           median of the run's set-ups (session start + warmup)
  latency_mean_ms   mean latency of the workload's completed units of work
  throughput_per_s  completed correct units of work per second
The mean, not the median, is gated: over a mix of requests that differ
tenfold in cost, the median jumps between request types from run to run
(quartile spread 0.17 over ten seeds against 0.14 for the mean); the
median is printed beside it. What the unit of work is differs per
workload (see METRICS.md). The workload-specific figures
(request_p90_ms, status_lag_p99_ms, pipeline_s, failed_ratio,
peak_rss_mb, heap_live_mb, ...) are printed too; a tail percentile
without ten samples beyond it is flagged.
"""
import hashlib
import json
import os
import sys

import gen
import stats

E2E_UNITS = {"setup_s": "s", "latency_mean_ms": "ms", "throughput_per_s": "1/s"}

# queue-serve's tables: a committed copy of the repository's sf 0.01 test
# tables (15,000 orders, 60,000 lineitem, 10,000 events, 500 documents),
# the size its correctness gate runs at. They are fixed; the seed draws
# the requests and their scopes.
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def _ms(us):
    return us / 1000.0


def _oracle_failures(verdicts):
    """Entries whose result disagreed with the DuckDB oracle."""
    bad = {k: v for k, v in verdicts.items() if v is not None}
    for k, v in sorted(bad.items()):
        print(f"oracle mismatch {k}: {v}", file=sys.stderr)
    return bad


def _e2e(raw, named, lat, thr):
    """The gated metrics; memory goes to `named` (not gated: peak RSS and
    the live heap move with GC timing and with how many ops a run did)."""
    named["peak_rss_mb"] = (raw["rss_peak_mb"], "MB")
    named["heap_live_mb"] = (raw["heap_live_mb"], "MB")
    vals = {"setup_s": stats.median(raw["setup_s"]), "latency_mean_ms": lat,
            "throughput_per_s": thr}
    return {k: (float(v), E2E_UNITS[k]) for k, v in vals.items()}


def _tail(named, name, values, q):
    """Add the q-th percentile of `values` to `named`, with its sample
    count; without ten samples beyond it the max is given, flagged."""
    t = stats.percentile(values, q)
    named[name] = (t if t is not None else max(values), "ms")
    named[name + ".samples"] = (len(values), "count")
    named[name + ".has_10_beyond"] = (float(t is not None), "bool")


class Requests:
    """queue-serve: a closed loop of scoped catalog requests."""
    setups = 2

    def __init__(self, name, mix, clients):
        self.name, self.mix, self.clients = name, mix, clients

    def inputs(self, root, seed, seconds):
        key = hashlib.sha1(json.dumps(self.mix, sort_keys=True).encode()).hexdigest()[:8]
        plan = os.path.join(root, f"{self.name}-{seed}-{key}.plan")
        if not os.path.exists(plan):
            os.makedirs(root, exist_ok=True)
            weights = {k: w for k, (_, w, _) in self.mix.items()}
            reqs = gen.request_mix(seed, weights, 4000, [f"proj_{i}" for i in range(5)])
            with open(plan + ".tmp", "w") as f:
                for r in reqs:
                    metric, _, mode = self.mix[r["op"]]
                    f.write(f"{r['op']}\t{metric}\t{r['scope']}\t{mode}\n")
            os.replace(plan + ".tmp", plan)
        return {"tables": TABLES, "plan": plan}

    def jvm_args(self, data):
        return {"data": data["tables"], "plan": data["plan"], "clients": self.clients}

    def reduce(self, raw, verdicts, data):
        ops = raw["ops"]
        bad_oracle = _oracle_failures(verdicts)
        is_failed = [not o[4] or o[5] == 0 or o[0] in bad_oracle for o in ops]
        failed = sum(is_failed)
        lat = [float("inf") if f else _ms(o[3] - o[2]) for o, f in zip(ops, is_failed)]
        w0, w1 = raw["window_us"]
        win = (w1 - w0) / 1e6
        p50 = stats.percentile(lat, 50, 0)
        done = [x for x in lat if x != float("inf")]
        # with nothing completed, every request missed every limit: the
        # whole window
        mean = sum(done) / len(done) if done else win * 1000.0
        thr = (len(ops) - failed) / win
        layer = {}
        for o in ops:
            layer.setdefault(o[1], []).append(_ms(o[3] - o[2]))
        # an entry the window missed has its one coverage run (traced runs)
        cover = raw.get("extra", {}).get("coverage", [])
        for c in cover:
            if c[1] not in layer and c[4]:
                layer[c[1]] = [_ms(c[3] - c[2])]
        layer = {k: stats.median(v) for k, v in layer.items()}
        # each Sink call of the transcript report (window or coverage run)
        layer["sources.write_s"] = stats.median(
            [(sp[5] - sp[4]) / 1e6 for sp in raw.get("spans", []) if sp[2] == "Sink.writeSized"])
        named = {"request_mean_ms": (mean, "ms"), "request_p50_ms": (p50, "ms")}
        _tail(named, "request_p90_ms", lat, 90)
        named.update({"requests_per_s": (thr, "1/s"),
                      "failed_ratio": (failed / max(1, len(ops)), "ratio")})
        return {"end_to_end": _e2e(raw, named, mean, thr), "named": named, "layer": layer,
                "attempted": len(ops) + len(cover),
                "failed": failed + sum(1 for c in cover if not c[4])}


# catalog key -> (layer metric, weight, collect|sink); weights follow the
# reference's cadences: pulse + status overview polled most, the
# scheduler pick and the rounds next, the rest of the daemon's reads
# rarely. The transcript ETL's report is written through sources.Sink.
QUEUE_MIX = {
    "q45_pulse": ("queue.pulse_ms", 40, "collect"),
    "q43_status_overview": ("queue.overview_ms", 20, "collect"),
    "q42_scheduler_pick": ("queue.pick_ms", 10, "collect"),
    "q40_round_strata": ("rounds.strata_ms", 4, "collect"),
    "q41_round_summary": ("rounds.summary_ms", 4, "collect"),
    "q44_lifecycle_replay": ("queue.replay_ms", 3, "collect"),
    "q51_model_routing": ("queue.routing_ms", 3, "collect"),
    "q50_transcript_etl": ("queue.etl_ms", 2, "sink"),
    "q211_move_validation": ("queue.moves_ms", 2, "collect"),
    "q212_namespace_resolve": ("queue.namespace_ms", 2, "collect"),
    "q215_dispatch_partition": ("queue.dispatch_ms", 2, "collect"),
    # the dashboard's report tab: one entry per relational/plans family
    # and the curation funnel over the transcripts corpus
    "q01_agg": ("relational.core_ms", 2, "collect"),
    "q22_tumbling_window": ("relational.events_ms", 2, "collect"),
    "q113_asof_attribution": ("plans.asof_ms", 2, "collect"),
    "q86_custom_topk": ("plans.topk_ms", 2, "collect"),
    "q108_curation_md5": ("llm.funnel_ms", 2, "collect"),
}


class StatusStream:
    """Lifecycle status stream: paced phase (lag), drain phase (rate)."""
    setups = 3
    RATE = 8000          # offered events/s in the paced phase, ~half the drain rate
    DRAIN = 18000        # events per drain backlog
    DRAINS = 5
    EV_PER_KEY = 9.0     # start + ~7 tools + stop, see gen.tool_events

    def inputs(self, root, seed, seconds):
        d = os.path.join(root, f"stream-{seed}-{seconds:g}-{self.RATE}-{self.DRAIN}x{self.DRAINS}")
        if not os.path.exists(os.path.join(d, "DONE")):
            os.makedirs(d, exist_ok=True)
            kr = self.RATE / self.EV_PER_KEY
            gen.write_events(f"{d}/warm.tsv", gen.tool_events(seed, "warm", 60, 200.0))
            gen.write_events(f"{d}/paced.tsv",
                             gen.tool_events(seed, "paced", int(kr * seconds), kr))
            for i in range(self.DRAINS):
                n = int(self.DRAIN / self.EV_PER_KEY)
                gen.write_events(f"{d}/drain-{i}.tsv",
                                 gen.tool_events(seed, f"drain{i}", n, 1000.0))
            open(os.path.join(d, "DONE"), "w").close()
        return {"dir": d}

    def jvm_args(self, data):
        d = data["dir"]
        return {"data": d, "warm": f"{d}/warm.tsv", "paced": f"{d}/paced.tsv",
                "drain": ",".join(f"{d}/drain-{i}.tsv" for i in range(self.DRAINS))}

    def reduce(self, raw, verdicts, data):
        x = raw["extra"]
        lags = x["lags_ms"]
        p50 = stats.percentile(lags, 50, 0)
        mean = sum(lags) / len(lags)
        rate = stats.median(x["drain_events_per_s"])
        named = {"status_lag_mean_ms": (mean, "ms"), "status_lag_p50_ms": (p50, "ms")}
        _tail(named, "status_lag_p99_ms", lags, 99)
        named.update({"drain_events_per_s": (rate, "1/s"),
                      "failed_ratio": (x["keys_wrong"] / max(1, x["keys"]), "ratio"),
                      "paced_events_per_s": (self.RATE, "1/s")})
        b = x["batches"]  # [trigger ms, input rows, commit ms, state rows, state bytes]
        late = x["generator_late_ms"]
        layer = {
            "streaming.batch_ms": stats.median([r[0] for r in b]),
            "streaming.rows_per_batch": stats.median([r[1] for r in b]),
            "streaming.state_commit_ms": stats.median([r[2] for r in b]),
            "streaming.batches": len(b),
            "streaming.state_rows": b[-1][3] if b else 0,
            "streaming.state_mb": b[-1][4] / 2**20 if b else 0,
            "streaming.backlog_peak_events": x["backlog_peak_events"],
            "streaming.generator_late_ms": max(late) if late else 0,
            "streaming.stalled_emitted":
                x["stalls_emitted_before_flush"] / max(1, x["planted_stalls"]),
        }
        return {"end_to_end": _e2e(raw, named, mean, rate),
                "named": named, "layer": layer,
                "attempted": x["keys"], "failed": x["keys_wrong"]}


CURATION_STAGES = [
    ("q29_dedup_exact", "llm.exact_dedup_s"),
    ("q239_gopher_rules", "llm.quality_filter_s"),
    ("q108_curation_md5", "llm.funnel_s"),
    ("q105_dedup_clusters", "llm.near_dup_s"),
    ("q229_semantic_dedup", "llm.semantic_dedup_s"),
    ("q101_decontamination", "llm.decontam_s"),
]


class Curation:
    """Cold curation pipeline over a generated corpus, repeated."""
    setups = 2
    N_DOCS = 1000
    N_WARM = 60

    def inputs(self, root, seed, seconds):
        d = os.path.join(root, f"corpus-{seed}-{self.N_DOCS}")
        if not os.path.exists(os.path.join(d, "DONE")):
            gen.corpus(d, seed, self.N_DOCS)
            gen.corpus(f"{d}/warm", seed + 1_000_003, self.N_WARM)
            with open(f"{d}/stages.plan", "w") as f:
                for k, m in CURATION_STAGES:
                    f.write(f"{k}\t{m}\n")
            open(os.path.join(d, "DONE"), "w").close()
        return {"tables": d, "plan": f"{d}/stages.plan", "warm": f"{d}/warm"}

    def jvm_args(self, data):
        return {"data": data["tables"], "plan": data["plan"], "warm": data["warm"]}

    def reduce(self, raw, verdicts, data):
        ops = raw["ops"]
        # a stage that disagrees with its oracle fails every pipeline: the
        # later ones must reproduce the first one's outputs exactly
        bad_oracle = _oracle_failures(verdicts)
        failed = [o for o in ops if not o[4] or o[5] == 0 or bad_oracle]
        secs = [(o[3] - o[2]) / 1e6 for o in ops]
        mean = sum(secs) / len(secs)
        named = {"pipeline_s": (mean, "s"), "pipelines": (len(ops), "count"),
                 "failed_ratio": (len(failed) / max(1, len(ops)), "ratio")}
        spans = raw.get("spans", [])
        pipes = {sp[0] for sp in spans if sp[3] == "client"}
        stage_ids = {sp[0] for sp in spans if sp[1] in pipes}
        writes = [(sp[5] - sp[4]) / 1e6 for sp in spans
                  if sp[3] == "sources" and sp[1] in stage_ids]
        layer = {"sources.write_s": stats.median(writes)}
        # the stage times are this workload's own figures, printed on a
        # traced run; no gated workload measures them
        if pipes:
            for k, m in CURATION_STAGES:
                named[m] = (stats.median([(sp[5] - sp[4]) / 1e6 for sp in spans
                                          if sp[2] == k and sp[1] in pipes]), "s")
        return {"end_to_end": _e2e(raw, named, mean * 1000.0, self.N_DOCS / mean),
                "named": named, "layer": layer,
                "attempted": len(ops), "failed": len(failed)}


ALL = {
    "queue-serve": Requests("queue-serve", QUEUE_MIX, clients=2),
    "status-stream": StatusStream(),
    "curation-batch": Curation(),
}
