#!/usr/bin/env python3
"""Self-test for tools/status.py's spread_advisories (VERDICT r10 #4).

The min-of-reps bench gate is deliberately blind to intermittent
contention; the advisory must surface the "wide spread, flat min"
signature without gating, and must NOT fire on flat records, gated
queries, or sub-noise-floor queries.

Usage: python3 tools/test_status.py   (exit 0 = all assertions pass)
"""
import json, os, sys, tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from status import (spread_advisories, burst_window, load_bench_spread,
                    load_bench_box, box_drift_note, probe_norm_ratio,
                    cmd_bench_gate, dangling_specs,
                    dangling_members)  # noqa: E402


def main():
    spread = {
        # the r9 q34 / r10 q103 signature: min flat, max 2x+ — fires
        "q34_jaccard": {"med": 11.7, "min": 5.1, "max": 12.0, "gc": 3.2},
        # flat record — silent
        "q01_agg": {"med": 1.0, "min": 0.95, "max": 1.05, "gc": 0.1},
        # wide but below the 0.3s noise floor — silent
        "q12_strings": {"med": 0.12, "min": 0.05, "max": 0.2, "gc": 0.0},
        # wide, but the gate already flagged it — suppressed
        "q46_minhash": {"med": 9.0, "min": 4.0, "max": 10.0, "gc": 1.0},
        # exactly 2.0x — NOT strictly greater, silent (boundary pin)
        "q02_topk": {"med": 1.0, "min": 0.5, "max": 1.0, "gc": 0.0},
        # missing max field — silent, not a crash
        "q03_join": {"med": 1.0, "min": 0.5},
    }
    adv = spread_advisories(spread, flagged={"q46_minhash"})
    assert len(adv) == 1, f"expected exactly one advisory, got: {adv}"
    assert adv[0].startswith("q34_jaccard:"), adv[0]
    assert "wide spread, flat min" in adv[0]
    assert "2.4x" in adv[0], adv[0]
    assert "gc=3.2s" in adv[0], adv[0]
    assert "not gated" in adv[0]

    # empty spread (pre-r10 record with no spread map) — no advisories
    assert spread_advisories({}) == []

    # --- burst_window (VERDICT r12 item 4): rep provenance names the
    # contention window instead of leaving it to id-adjacency inference.
    def entry(reps, mn, mx):
        return {"med": (mn + mx) / 2, "min": mn, "max": mx, "gc": 0.0,
                "reps": reps}
    # 600s run, 3 passes of ~200s. Four wide queries whose slowest reps
    # all sit in pass 2 between 210s and 250s → burst named.
    burst_spread = {
        f"q{180 + i}_x": entry(
            [(1, 10.0 + i, 1.0), (2, 210.0 + 10 * i, 6.0), (3, 410.0 + i, 1.0)],
            1.0, 6.0)
        for i in range(4)
    }
    # plus flat queries establishing the run span (and not counted wide)
    burst_spread["q01_agg"] = entry(
        [(1, 0.0, 1.0), (2, 200.0, 1.0), (3, 599.0, 1.0)], 1.0, 1.1)
    b = burst_window(burst_spread)
    assert b and "pass 2" in b and "4/4" in b, f"burst not named: {b}"
    # same wide queries but slow reps SCATTERED across passes — no burst
    scattered = {
        f"q{180 + i}_x": entry(
            [(1, 10.0 + i, 6.0 if i % 2 else 1.0),
             (2, 210.0 + i, 1.0 if i % 2 else 6.0),
             (3, 410.0 + 150 * (i % 2), 1.0)], 1.0, 6.0)
        for i in range(4)
    }
    scattered["q01_agg"] = burst_spread["q01_agg"]
    assert burst_window(scattered) is None, "scattered slow reps must not read as a burst"
    # fewer than min_cluster wide queries — silent
    assert burst_window({"q180_x": burst_spread["q180_x"],
                         "q01_agg": burst_spread["q01_agg"]}) is None
    # no provenance (pre-r13 record) — silent, not a crash
    assert burst_window({"q34_jaccard": {"med": 11.7, "min": 5.1, "max": 12.0}}) is None

    # --- load_bench_spread round-trips the reps field (and old records
    # without one), both from clean JSON and from a truncated tail.
    rec = {"metric": "total", "value": 1.0, "unit": "sec",
           "queries": {"q01_agg": 1.0},
           "spread": {"q01_agg": {"med": 1.0, "min": 0.9, "max": 1.1,
                                  "gc": 0.1, "reps": [[1, 0.0, 1.0],
                                                      [2, 100.0, 0.9]]}},
           "failed": [], "sf": "x"}
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump(rec, f)
        path = f.name
    sp = load_bench_spread(path)
    assert sp["q01_agg"]["min"] == 0.9
    assert sp["q01_agg"]["reps"] == [(1, 0.0, 1.0), (2, 100.0, 0.9)]
    # truncated tail containing a reps array: scalar fields still parse
    with open(path, "w") as f:
        f.write('...d":{"med":1.000,"min":0.900,"max":1.100,"gc":0.100},'
                '"q02_topk":{"med":2.000,"min":1.900,"max":2.100,"gc":0.200,'
                '"reps":[[1,0.0,2.0],[2,100.0,1.9]]},"failed":[]')
    sp = load_bench_spread(path)
    assert sp["q02_topk"]["min"] == 1.9, sp
    os.unlink(path)

    # --- memo-pay cross-reference (VERDICT r14 item 5): a wide-spread
    # memoized query is mechanically EXPLAINED when a timed-pass memo
    # build attributed to it covers >= half the (max-min) gap...
    wide = {"q34_jaccard": {"med": 7.6, "min": 3.56, "max": 7.7, "gc": 0.24}}
    pays_cover = [{"memo": "jaccard_pairs", "q": "q34_jaccard",
                   "pass": 2, "at": 400.0, "cost_s": 3.9}]
    adv = spread_advisories(wide, memo_pays=pays_cover)
    assert len(adv) == 1 and "EXPLAINED" in adv[0], adv
    assert "jaccard_pairs" in adv[0] and "pass 2" in adv[0], adv
    # ...and mechanically ESCALATED when the ledger shows no such build
    # (the r14 q34 signature: the pair memo was paid in warmup — pass 0
    # entries must not count) and GC does not cover the gap.
    pays_warmup = [{"memo": "jaccard_pairs", "q": "warmup",
                    "pass": 0, "at": -120.0, "cost_s": 3.9}]
    adv = spread_advisories(wide, memo_pays=pays_warmup)
    assert len(adv) == 1 and "ESCALATE" in adv[0], adv
    assert "rules out memo payment" in adv[0], adv
    # a sub-half-gap pay must NOT explain (cost 1.0 vs gap 4.14)
    pays_small = [{"memo": "jaccard_pairs", "q": "q34_jaccard",
                   "pass": 3, "at": 700.0, "cost_s": 1.0}]
    adv = spread_advisories(wide, memo_pays=pays_small)
    assert len(adv) == 1 and "ESCALATE" in adv[0], adv
    # GC covering the gap downgrades the escalation to a GC note
    wide_gc = {"q97_try": {"med": 2.0, "min": 1.0, "max": 3.0, "gc": 1.2}}
    adv = spread_advisories(wide_gc, memo_pays=[])
    assert len(adv) == 1 and "GC bill covers" in adv[0], adv
    assert "ESCALATE" not in adv[0], adv
    # pre-ledger record (memo_pays=None): the original wording stands
    adv = spread_advisories(wide, memo_pays=None)
    assert len(adv) == 1 and "context pressure signature" in adv[0], adv
    # ledger round-trips through a clean record; truncated tail -> None
    rec2 = dict(rec)
    rec2["memo_pays"] = pays_cover
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump(rec2, f)
        path = f.name
    from status import load_bench_memo_pays
    assert load_bench_memo_pays(path) == pays_cover
    with open(path, "w") as f:
        f.write('...truncated tail, not json')
    assert load_bench_memo_pays(path) is None
    os.unlink(path)

    # --- burst_window truncation guard (ADVICE r13): a left-truncated
    # tail keeps reps only for late-alphabet queries; the span estimate
    # shrinks and a burst must NOT be named from that window.
    truncated = {
        f"q{180 + i}_x": entry(
            [(1, 10.0 + i, 1.0), (2, 210.0 + 10 * i, 6.0), (3, 410.0 + i, 1.0)],
            1.0, 6.0)
        for i in range(4)
    }
    # 6 early-alphabet queries whose reps were truncated away
    for i in range(6):
        truncated[f"q0{i}_early"] = {"med": 1.0, "min": 0.9, "max": 1.1}
    t = burst_window(truncated)
    assert t and "truncated" in t and "4/10" in t, f"guard missing: {t}"
    # at >=50% coverage the normal path resumes (burst named as before)
    assert "pass 2" in burst_window(burst_spread)

    # --- box fields (VERDICT r13 item 3): load + probe round-trip, and
    # the gate classifies a uniform catalog shift that tracks the probe
    # as box drift — mechanically, from the records alone.
    def write_rec(path, qsec, probe):
        rec = {"metric": "total", "value": sum(qsec.values()), "unit": "sec",
               "queries": qsec,
               "spread": {q: {"med": v, "min": v, "max": v, "gc": 0.0}
                          for q, v in qsec.items()},
               "failed": [],
               "box": {"load1_start": 1.5, "load1_end": 2.0,
                       "psi10_start": 0.0, "psi10_end": 0.1,
                       "psi_total_delta_s": 12.0,
                       "probe_start_s": probe, "probe_end_s": probe},
               "sf": "x"}
        with open(path, "w") as f:
            json.dump(rec, f)
    qs_ref = {f"q{i:02d}_x": 1.0 for i in range(30)}
    qs_new = {q: 1.2 for q in qs_ref}   # uniform 1.2x catalog shift
    ref_p = tempfile.mktemp(suffix=".json")
    new_p = tempfile.mktemp(suffix=".json")
    write_rec(ref_p, qs_ref, probe=1.50)
    write_rec(new_p, qs_new, probe=1.80)  # probe moved 1.2x too
    box = load_bench_box(new_p)
    assert box["probe_start_s"] == 1.80 and box["load1_end"] == 2.0, box
    from status import load_bench_queries
    note = box_drift_note(new_p, ref_p,
                          load_bench_queries(new_p), load_bench_queries(ref_p),
                          load_bench_spread(new_p), load_bench_spread(ref_p))
    assert note and "BOX DRIFT" in note, f"uniform+probe shift not classified: {note}"
    # same catalog shift but the probe stayed flat — NOT box drift
    write_rec(new_p, qs_new, probe=1.50)
    note = box_drift_note(new_p, ref_p,
                          load_bench_queries(new_p), load_bench_queries(ref_p),
                          load_bench_spread(new_p), load_bench_spread(ref_p))
    assert note and "does NOT track" in note, f"flat probe misread: {note}"
    # a uniform 12% move with a flat probe sits inside a naive fixed 15%
    # band — the residual rule must still refuse to call it box drift
    qs_12 = {q: 1.12 for q in qs_ref}
    write_rec(new_p, qs_12, probe=1.50)
    note = box_drift_note(new_p, ref_p,
                          load_bench_queries(new_p), load_bench_queries(ref_p),
                          load_bench_spread(new_p), load_bench_spread(ref_p))
    assert note and "does NOT track" in note, f"12%/flat-probe misread: {note}"
    # --- r16 (VERDICT r15 item 6): JIT and page-cache adjudication of
    # the residual the probe leaves unexplained.
    def write_rec2(path, qsec, probe, jit_ms, cached_kb):
        rec = {"metric": "total", "value": sum(qsec.values()), "unit": "sec",
               "queries": qsec,
               "spread": {q: {"med": v, "min": v, "max": v, "gc": 0.0}
                          for q, v in qsec.items()},
               "failed": [],
               "box": {"load1_start": 1.5, "load1_end": 2.0,
                       "psi10_start": 0.0, "psi10_end": 0.1,
                       "psi_total_delta_s": 12.0,
                       "jit_delta_ms": jit_ms,
                       "cached_kb_start": cached_kb,
                       "cached_kb_end": cached_kb,
                       "probe_start_s": probe, "probe_end_s": probe},
               "sf": "x"}
        with open(path, "w") as f:
            json.dump(rec, f)
    # 30 queries move 1.0 -> 1.2 (6.0s total move) under a FLAT probe;
    # the new record's extra 4.0s of JIT compile covers >= half of it
    write_rec2(ref_p, qs_ref, probe=1.50, jit_ms=2000, cached_kb=8 * 1048576)
    write_rec2(new_p, qs_new, probe=1.50, jit_ms=6000, cached_kb=8 * 1048576)
    note = box_drift_note(new_p, ref_p,
                          load_bench_queries(new_p), load_bench_queries(ref_p),
                          load_bench_spread(new_p), load_bench_spread(ref_p))
    assert note and "JIT DRIFT" in note, f"jit-covered move not classified: {note}"
    # same shift, flat probe, flat JIT, but the new run started on a
    # quarter-size page cache — cold-cache candidate
    write_rec2(new_p, qs_new, probe=1.50, jit_ms=2000, cached_kb=2 * 1048576)
    note = box_drift_note(new_p, ref_p,
                          load_bench_queries(new_p), load_bench_queries(ref_p),
                          load_bench_spread(new_p), load_bench_spread(ref_p))
    assert note and "COLD-CACHE DRIFT" in note, f"cold cache not named: {note}"
    # flat everything: neither new classification may fire on a quiet gate
    write_rec2(new_p, qs_ref, probe=1.50, jit_ms=2100, cached_kb=8 * 1048576)
    note = box_drift_note(new_p, ref_p,
                          load_bench_queries(new_p), load_bench_queries(ref_p),
                          load_bench_spread(new_p), load_bench_spread(ref_p))
    assert note and "JIT DRIFT" not in note and "COLD-CACHE" not in note, note
    # a probe-EXPLAINED move must stay BOX DRIFT even with a big JIT
    # delta riding along (the probe classification wins; JIT/cache only
    # adjudicate the unexplained residual)
    write_rec2(new_p, qs_new, probe=1.80, jit_ms=9000, cached_kb=2 * 1048576)
    note = box_drift_note(new_p, ref_p,
                          load_bench_queries(new_p), load_bench_queries(ref_p),
                          load_bench_spread(new_p), load_bench_spread(ref_p))
    assert note and "BOX DRIFT" in note and "JIT DRIFT" not in note \
        and "COLD-CACHE" not in note, note

    # --- r16 second wave: multi-core probe adjudication (flat 1-thread
    # probe + moving mt-probe that explains the move -> MULTICORE BOX
    # DRIFT; and it must NOT fire when the mt probe is also flat).
    def write_rec3(path, qsec, probe, probe_mt):
        rec = {"metric": "total", "value": sum(qsec.values()), "unit": "sec",
               "queries": qsec,
               "spread": {q: {"med": v, "min": v, "max": v, "gc": 0.0}
                          for q, v in qsec.items()},
               "failed": [],
               "box": {"load1_start": 1.5, "load1_end": 2.0,
                       "psi10_start": 0.0, "psi10_end": 0.1,
                       "psi_total_delta_s": 12.0,
                       "probe_start_s": probe, "probe_end_s": probe,
                       "probe_mt_start_s": probe_mt,
                       "probe_mt_end_s": probe_mt},
               "sf": "x"}
        with open(path, "w") as f:
            json.dump(rec, f)
    qs_13 = {q: 1.3 for q in qs_ref}
    write_rec3(ref_p, qs_ref, probe=1.50, probe_mt=1.10)
    write_rec3(new_p, qs_13, probe=1.50, probe_mt=1.43)  # mt moved 1.3x
    note = box_drift_note(new_p, ref_p,
                          load_bench_queries(new_p), load_bench_queries(ref_p),
                          load_bench_spread(new_p), load_bench_spread(ref_p))
    assert note and "MULTICORE BOX DRIFT" in note, \
        f"mt-explained move not classified: {note}"
    # both probes flat under the same move: neither classification fires
    write_rec3(new_p, qs_13, probe=1.50, probe_mt=1.10)
    note = box_drift_note(new_p, ref_p,
                          load_bench_queries(new_p), load_bench_queries(ref_p),
                          load_bench_spread(new_p), load_bench_spread(ref_p))
    assert note and "MULTICORE BOX DRIFT" not in note \
        and "does NOT track" in note, note

    # negative sentinels (no /proc on the box) are dropped, not reported
    with open(new_p, "w") as f:
        json.dump({"queries": qs_new, "box": {"probe_start_s": -1.0,
                                              "load1_start": -1.0}}, f)
    assert load_bench_box(new_p) == {}
    os.unlink(ref_p); os.unlink(new_p)

    # --- probe-normalized gate (VERDICT r17 item 4) -------------------
    # The r17 record adjudicated environment more often than code: a
    # uniform ~1.15x box-drift shift tripped per-query flags the judge
    # then had to custody-rerun. The gate now divides every ratio by
    # the records' box-speed ratio, preferring MID-RUN probe samples.
    def box_of(mid_mt=None, end_mt=None, end_st=None, quiet=True):
        b = {"load1_start": 1.0, "load1_end": 1.0, "quiet": quiet}
        if mid_mt is not None:
            b["probes_mid"] = [[p + 1, 3.2, v] for p, v in enumerate(mid_mt)]
        if end_mt is not None:
            b["probe_mt_start_s"], b["probe_mt_end_s"] = end_mt
        if end_st is not None:
            b["probe_start_s"], b["probe_end_s"] = end_st
        return b
    # mid-run samples preferred over endpoints: endpoints read flat
    # (the r17 signature) while the mid-run median carries the 1.5x
    nb = box_of(mid_mt=[1.5, 1.5], end_mt=(1.0, 1.0))
    rb = box_of(mid_mt=[1.0, 1.0], end_mt=(1.0, 1.0))
    assert abs(probe_norm_ratio(nb, rb) - 1.5) < 1e-9
    # fallbacks: endpoint mt, then endpoint st, then None
    assert abs(probe_norm_ratio(box_of(end_mt=(1.2, 1.2)),
                                box_of(end_mt=(1.0, 1.0))) - 1.2) < 1e-9
    assert abs(probe_norm_ratio(box_of(end_st=(3.9, 3.9)),
                                box_of(end_st=(3.0, 3.0))) - 1.3) < 1e-9
    assert probe_norm_ratio(box_of(), box_of()) is None
    # round-trip through a real record file, tail form included
    fd, pp = tempfile.mkstemp(suffix=".json"); os.close(fd)
    rec = {"queries": {"q01_agg": 1.0}, "box": box_of(mid_mt=[1.4, 1.6])}
    with open(pp, "w") as f:
        json.dump(rec, f)
    assert load_bench_box(pp)["probes_mid"] == [(1, 3.2, 1.4), (2, 3.2, 1.6)]
    assert load_bench_box(pp)["quiet"] is True
    with open(pp, "w") as f:
        f.write('...truncated tail..."box":{"probe_start_s":3.2,'
                '"probes_mid":[[1,3.2,1.4],[2,3.2,1.6]],"quiet":true}')
    assert load_bench_box(pp)["probes_mid"] == [(1, 3.2, 1.4), (2, 3.2, 1.6)]
    os.unlink(pp)
    # end-to-end: a uniform 1.6x shift the mid-run probes explain must
    # NOT gate (cleared list, exit 0); the same records without probes
    # must gate (the pre-r18 behavior preserved)
    import io, contextlib
    def write_gate_rec(path, qsec, box):
        rec = {"metric": "total", "value": sum(qsec.values()), "unit": "sec",
               "queries": qsec,
               "spread": {q: {"med": v, "min": v, "max": v, "gc": 0.0}
                          for q, v in qsec.items()},
               "failed": [], "box": box, "sf": "x"}
        with open(path, "w") as f:
            json.dump(rec, f)
    fd, gref = tempfile.mkstemp(suffix=".json"); os.close(fd)
    fd, gnew = tempfile.mkstemp(suffix=".json"); os.close(fd)
    qs_r = {f"q{i:02d}_x": 2.0 for i in range(30)}
    qs_n = {f"q{i:02d}_x": 3.2 for i in range(30)}  # 1.6x, delta 1.2s
    write_gate_rec(gref, qs_r, box_of(mid_mt=[1.0, 1.0]))
    write_gate_rec(gnew, qs_n, box_of(mid_mt=[1.6, 1.6]))
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        cmd_bench_gate([gnew, gref])  # no SystemExit = gate passed
    assert "cleared by probe normalization" in out.getvalue(), out.getvalue()
    write_gate_rec(gref, qs_r, {})
    write_gate_rec(gnew, qs_n, {})
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            cmd_bench_gate([gnew, gref])
        assert False, "1.6x with no probes must still gate"
    except SystemExit as e:
        assert e.code == 1
    # ...and a real 2.6x code regression on a 1.3x-slower box still
    # gates at 2.0x normalized
    qs_code = dict(qs_r, q00_x=5.2)
    write_gate_rec(gref, qs_r, box_of(mid_mt=[1.0, 1.0]))
    write_gate_rec(gnew, qs_code, box_of(mid_mt=[1.3, 1.3]))
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            cmd_bench_gate([gnew, gref])
        assert False, "normalized 2.0x regression must gate"
    except SystemExit as e:
        assert e.code == 1
    assert "probe-normalized" in out.getvalue(), out.getvalue()
    os.unlink(gref); os.unlink(gnew)

    # --- check-coverage: every cited spec must be a test class --------
    troot = tempfile.mkdtemp()
    os.makedirs(os.path.join(troot, "graft"))
    with open(os.path.join(troot, "graft", "ASpec.scala"), "w") as f:
        f.write("package graft\nclass QueueSpec extends AnyFunSuite\n"
                "class StratifySpec extends AnyFunSuite\n"
                "class StreamingSpec extends AnyFunSuite\n")
    ok_text = "| S5 | ... | QueueSpec \"S5\" |\n| S9 | ... | StratifySpec |\n"
    assert dangling_specs(ok_text, troot) == [], dangling_specs(ok_text, troot)
    gone = ok_text + "| stateful | ... | StreamingSpec, LifecycleV2Spec |\n"
    assert dangling_specs(gone, troot) == ["LifecycleV2Spec"], \
        dangling_specs(gone, troot)
    import shutil
    shutil.rmtree(troot)
    # the committed COVERAGE.md cites only specs that exist
    root_ = os.path.dirname(HERE)
    with open(os.path.join(root_, "COVERAGE.md")) as f:
        cov = f.read()
    assert dangling_specs(cov, os.path.join(root_, "src", "test")) == [], \
        dangling_specs(cov, os.path.join(root_, "src", "test"))

    # --- check-coverage: every cited engine member must be declared --
    mroot = tempfile.mkdtemp()
    with open(os.path.join(mroot, "QueueOps.scala"), "w") as f:
        f.write("package graft.queue\nobject QueueOps {\n"
                "  def pulse(s: Int): Int = s\n  val legalMoves = Set(1)\n}\n")
    ok_text = ("| S16 | `queue.QueueOps.pulse` | ... | QueueSpec |\n"
               "| S20 | `QueueOps.legalMoves`, `QueueOps.scala`, `SURVEY.md`, "
               "`Dataset.unpivot` |\n")
    assert dangling_members(ok_text, mroot) == [], dangling_members(ok_text, mroot)
    gone = ok_text + "| S19 | `queue.QueueOps.etaSeconds` |\n"
    assert dangling_members(gone, mroot) == ["QueueOps.etaSeconds"], \
        dangling_members(gone, mroot)
    # a bare name paired after an `Obj.member` citation resolves
    # against the same object
    pair = "| S21 | `queue.QueueOps.pulse` / `legalMoves` |\n"
    assert dangling_members(pair, mroot) == [], dangling_members(pair, mroot)
    pair_gone = "| S21 | `queue.QueueOps.pulse` / `pulseFrom` |\n"
    assert dangling_members(pair_gone, mroot) == ["QueueOps.pulseFrom"], \
        dangling_members(pair_gone, mroot)
    shutil.rmtree(mroot)
    # the committed COVERAGE.md cites only members the engine declares
    assert dangling_members(cov, os.path.join(root_, "src", "main")) == [], \
        dangling_members(cov, os.path.join(root_, "src", "main"))

    # --- STATUS.md freshness pin (VERDICT r16 item 6) -----------------
    # The committed STATUS.md must never describe a superseded bench
    # record: the bench source named on its Sources line must be from
    # the round of the newest BENCH_full_r*.json or later (tails of the
    # same/newer round are fine — gen prefers fulls within a round).
    # Bench regenerates STATUS.md in the canonical stamp flow, so this
    # only fails when a stamp bypassed the flow.
    import glob, re as _re
    root = os.path.dirname(HERE)
    fulls = sorted(glob.glob(os.path.join(root, "BENCH_full_r*.json")))
    status_path = os.path.join(root, "STATUS.md")
    if fulls and os.path.exists(status_path):
        newest_round = max(int(_re.search(r"_r(\d+)\.json$", f).group(1))
                           for f in fulls)
        st = open(status_path).read()
        m = _re.search(r"bench=`BENCH(?:_full)?_r(\d+)\.json`", st)
        assert m, f"STATUS.md Sources line names no round-stamped bench: {st[:200]}"
        assert int(m.group(1)) >= newest_round, (
            f"STATUS.md was generated from round {m.group(1)} but "
            f"BENCH_full_r{newest_round:02d}.json exists — regenerate "
            f"(tools/status.py gen runs in Bench's stamp flow)")

    print("test_status: OK (spread advisory fires once, suppressions hold; "
          "burst window named from rep provenance + truncation guard; "
          "reps field round-trips; box drift adjudicated from probes; "
          "dangling spec and member citations caught; "
          "STATUS.md bench source is not superseded)")


if __name__ == "__main__":
    main()
