#!/usr/bin/env python3
"""Derive status claims from driver artifacts — no hand-held numbers.

Modes:
  gen         — write STATUS.md (per-query correctness + bench deltas)
                from the newest CORRECTNESS_r*.json / BENCH_r*.json
  check-coverage — verify every "qNN ◆ / qNN ○" marker in COVERAGE.md
                against the correctness artifact, that every cited
                `…Spec` is a `class …Spec` under src/test, and that every
                backticked `Object.member` naming an engine object is
                declared in it under src/main; exit 1 on drift
  bench-gate NEW [REF] — fail (exit 1) if any query regresses > 1.5x
                vs the reference bench among queries >= 1s either side

Usage:
  python3 tools/status.py gen [--correctness PATH] [--bench PATH] [--prev PATH]
  python3 tools/status.py check-coverage [--correctness PATH]
  python3 tools/status.py bench-gate NEW_BENCH [REF_BENCH]

Driver-side python only (tooling, not an engine dependency).
"""
import sys, json, glob, re, os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def newest(pattern):
    files = sorted(glob.glob(os.path.join(ROOT, pattern)))
    return files[-1] if files else None

def round_num(path):
    m = re.search(r"_r(\d+)", os.path.basename(path))
    return int(m.group(1)) if m else None

def bench_rounds():
    """{round: path} of per-round bench records, preferring the complete
    BENCH_full_rNN.json snapshots (written by Bench, round-stamped at
    snapshot time) over the driver's truncated BENCH_rNN.json tails.
    Filenames must FULLMATCH the round pattern: suffixed diversions
    (BENCH_full_rNN_cpus8.json from a scaling run, _driver.json from a
    post-commit rerun — Bench's r20 stamp guard) are labeled context,
    never round records (VERDICT r19 item 6)."""
    best = {}
    for rx, pri in ((r"BENCH_r(\d+)\.json", 0), (r"BENCH_full_r(\d+)\.json", 1)):
        for f in glob.glob(os.path.join(ROOT, "BENCH_*r*.json")):
            m = re.fullmatch(rx, os.path.basename(f))
            if not m:
                continue
            n = int(m.group(1))
            if n not in best or pri > best[n][0]:
                best[n] = (pri, f)
    return {n: p for n, (pri, p) in best.items()}

def resolve_bench(arg):
    """Map a bench argument to the best available record. Only the
    repo's OWN truncated tails are upgraded (BENCH_r07 / BENCH_r07.json
    -> BENCH_full_r07.json when that exists) — an explicit path outside
    the repo names a specific record (solo rerun, scaling study) and is
    used as-is."""
    cand = arg if os.path.isabs(arg) else os.path.join(ROOT, arg)
    in_repo = os.path.realpath(os.path.dirname(cand)) == os.path.realpath(ROOT)
    m = re.match(r"BENCH_r(\d+)(\.json)?$", os.path.basename(arg))
    if m and in_repo:
        full = os.path.join(ROOT, f"BENCH_full_r{m.group(1)}.json")
        if os.path.exists(full):
            return full
    if not cand.endswith(".json") and os.path.exists(cand + ".json"):
        return cand + ".json"
    return cand

# Gate flags resolved by a judge's solo rerun — kept so later rounds
# don't re-litigate them (STATUS.md surfaces these under Adjudications).
# Each entry is SCOPED to the (ref, new) seconds it actually judged: a
# fresh regression of the same query in a later round must NOT inherit a
# stale "accepted trade" note verbatim — the gate only prints an
# adjudication as current when the flagged timings match the judged pair
# (±30%, the established noise band); otherwise it is printed with an
# earlier-round caveat so the reader re-adjudicates.
ADJUDICATIONS = {
    "q134_ivf_increment": {
        "ref": 0.51, "new": 1.72,
        "note": (
            "r15 gate flag adjudicated REAL AND DELIBERATE — a bug fix, "
            "not a regression: before the r15 min-anchored seed/train "
            "residues (ADVICE r14, medium), the Lloyd TRAINING slice at "
            "sf0.1 was EMPTY BY CONSTRUCTION (store count 1500 -> stride "
            "38 -> trainStride 4; 'vec_id % 4 == 0' intersected with the "
            "store's 'vec_id % 4 != 0' is the empty set), so both "
            "refinement iterations silently no-opped and r14's 0.51s "
            "bought unrefined raw-seed centroids. The r15 number pays for "
            "refinement that actually runs (~500x62 cosines x 2 iters). "
            "Stage-level A/B on equal-sized train slices shows residue "
            "identity itself costs nothing.")},
    "q233_semdedup_increment": {
        "ref": 0.79, "new": 2.65,
        "note": (
            "Same adjudication as q134_ivf_increment (shared "
            "sampledLloydCents store build): r14's time trained on an "
            "EMPTY slice at sf0.1; the r15 residue anchor makes Lloyd "
            "refinement real. Deliberate bug-fix cost, not a plan "
            "regression.")},
    "q129_png_roundtrip": {
        "ref": 1.41, "new": 2.27,
        "note": (
            "r18 driver-record flag (1.41s->2.27s min-of-reps, 1.57x "
            "probe-normalized) RE-adjudicated in r19 at these timings (the "
            "prior entry, judged 0.66->1.86, was marked stale by the gate): "
            "NOT real — PNG round-trip code untouched since r9; the r19 "
            "custody solo 3-rep read 1.86/1.037/0.975s, min 0.975s, BELOW "
            "even the r17 reference min. Third documented instance of the "
            "ImageIO JIT/allocator plateau (r10 solo spread 1.88/4.33/5.74s; "
            "r17 solo 1.231/1.233/1.271s): encode/decode latency swings 2-3x "
            "rep-to-rep with a cold-JIT first rep, so single-window "
            "min-of-reps on a drifted box flags it spuriously.")},
    "q254_semindex_compact2": {
        "ref": 3.12, "new": 4.91,
        "note": (
            "r18 driver-record flag adjudicated NOT real by the r19 "
            "same-box A/B (BENCH_ab_r19.json): the r17-close build "
            "(ee740ae) and r19 HEAD benched interleaved on one box read "
            "min-of-3 3.386s vs 3.482s — 1.028x on identical code for "
            "this path (zero Dedup/Similarity diff in r18). The 4.91s "
            "reading was the drifted post-commit box, same as the record's "
            "own BOX DRIFT classification.")},
    "q255_cc_salted": {
        "ref": 2.53, "new": 4.06,
        "note": (
            "r18 driver-record flag adjudicated NOT real by the r19 "
            "same-box A/B: r17-close vs r19 HEAD interleaved min-of-3 "
            "3.081s vs 2.869s — 0.93x, the current build is FASTER on "
            "identical code. Environment, matching the record's box "
            "classifier.")},
    "q155_triangles": {
        "ref": 1.24, "new": 2.10,
        "note": (
            "r17 final-stamp flag adjudicated NOT real (box drift): graph "
            "covisit code untouched all round; the custody solo rerun on "
            "the post-stamp box read 2.81/3.07/3.32s — SLOWER than the "
            "flagged catalog rep, the signature of box-level multi-core "
            "sag (the documented r16 episode class; this stamp's mt-probe "
            "moved 0.94->1.44s while the single-thread probe tracked the "
            "catalog's uniform 1.18x), not of catalog-context pressure or "
            "a plan change.")},
    "q174_range_join": {
        "ref": 1.73, "new": 3.05,
        "note": (
            "r18 final-stamp flag adjudicated NOT real (same pass-3 window "
            "+ box sag): range-join code untouched all round (and for many "
            "rounds); solo min-of-3 after the stamp = 2.29s on a visibly "
            "sagging box (the r16/r17 wandering multi-core throughput "
            "class), vs 3.05s in the flagged catalog rep.")},
    "q189_split_leakage": {
        "ref": 1.80, "new": 2.86,
        "note": (
            "r18 final-stamp flag adjudicated NOT real (same pass-3 "
            "window): leakage code untouched all round; solo 3-rep after "
            "the stamp read TIGHT 2.065/2.109/2.194s — 1.15x of the r17 "
            "reference, inside the established noise band.")},
    "q99_chained_cte": {
        "ref": 0.67, "new": 1.84,
        "note": (
            "r7 gate flag 0.67s→1.84s adjudicated NOT real: no r7 code touches "
            "q99's path and the judge's solo rerun clocked 1.04s — single-JVM "
            "interference within the established ±30% noise band.")},
    # Four queries flagged mid-r10 vs the session-start stamp; none of
    # their code changed in this session and the drift reproduces SOLO
    # (q131 0.58->1.35 solo-min, q140 1.25->2.77, q156 0.53->1.06,
    # q158 1.38->1.91) while UNTOUCHED anchors drifted the same
    # direction (q01 1.06->1.16, q34 2.39->3.35): uniform box-state
    # drift across a machine reboot between the two stamps, not a code
    # regression. The re-stamp absorbs it; a later flag at materially
    # worse values re-adjudicates per the scoping rule.
    "q87_curation_pipeline": {
        "ref": 2.11, "new": 3.27,
        "note": "r10 final-stamp flag vs r9: funnel code untouched all "
                "round; solo min-of-3 = 2.52s (1.19x of the r9 2.11s, "
                "inside the +/-30% band) - the box-drift/catalog-context "
                "class, same as q97/q131/q140/q156/q158 this round."},
    "q97_try_ops": {
        "ref": 1.11, "new": 1.76,
        "note": "r10 final-stamp flag: code untouched all session; solo "
                "min-of-3 = 1.38s (1.24x, inside the established +/-30% "
                "noise band). Catalog-context noise, not real."},
    "q131_jpeg_roundtrip": {
        "ref": 0.62, "new": 2.06,
        "note": (
            "r18 final-stamp flag adjudicated NOT real (environment, "
            "builder solo custody): the stamp's own record names a pass-3 "
            "contention window covering 51 wide queries, and the MID-RUN "
            "multi-core probe caught it live (pass-2 boundary 1.698s vs "
            "0.977s at pass-1 — the first firing of the r18 probes_mid "
            "instrumentation). Solo min-of-3 immediately after the stamp: "
            "1.061s — the documented ImageIO plateau (r10's flag at "
            "1.12s→2.12s solo-read 1.04s for the same code, untouched "
            "since r9); the 0.62s r17 reference is a fast-box reading of "
            "the same code.")},
    "q140_pagerank": {
        "ref": 1.25, "new": 2.20,
        "note": "r10 mid-round flag: box-state drift across reboot (see "
                "comment above) - solo-reproduced, no code change."},
    "q156_vocab_coverage": {
        "ref": 0.53, "new": 0.86,
        "note": "r10 mid-round flag: box-state drift across reboot (see "
                "comment above) - solo-reproduced, no code change."},
    "q158_column_stats": {
        "ref": 1.38, "new": 2.08,
        "note": "r10 mid-round flag: box-state drift across reboot (see "
                "comment above) - solo-reproduced, no code change."},
    "q103_pii_redaction": {
        "ref": 0.72, "new": 1.36,
        "note": (
            "r10 final-stamp flag (r9 0.716s -> r10 min 1.357, sustained "
            "across reps, q115/q104/q101 co-drifting) adjudicated NOT real "
            "in r11: a fresh full-catalog run read min 0.709s and a solo "
            "min-of-3 read 0.729s at a code state that touches none of "
            "these paths — suite-context pressure at the r10 stamp (the r9 "
            "q34 class). PERF.md '#q103 adjudication' has the full table; "
            "spread_advisories now surfaces this signature on the record.")},
    "q66_ann_ivf": {
        "ref": 1.04, "new": 2.07,
        "note": (
            "r9 flag 1.04s→2.07s is REAL and DELIBERATE, not noise: round 9 "
            "added two Lloyd refinement passes (clustered recall floor 0.8→0.95, "
            "measured 1.00) and sqrt(N) cell sizing (replaces the fixed stride "
            "whose K∝N made the assignment pass quadratic at scale — PERF.md "
            "§ANN second decade). Accepted recall/scale-for-time trade; the r10 "
            "baseline absorbs it.")},
}

def adjudication_for(name, ref_s, new_s):
    """The adjudication text applicable to a flag of `name` at
    (ref_s, new_s), or None. Scoped: the recorded note applies verbatim
    only when both timings are within 30% of the judged pair."""
    a = ADJUDICATIONS.get(name)
    if not a:
        return None
    def close(x, y):
        return y > 0 and abs(x - y) / y <= 0.30
    if close(new_s, a["new"]) and close(ref_s, a["ref"]):
        return a["note"]
    return (f"adjudication is from an earlier round (judged "
            f"{a['ref']:.2f}s→{a['new']:.2f}s, this flag is "
            f"{ref_s:.2f}s→{new_s:.2f}s — re-adjudicate): {a['note']}")

def load_bench_queries(path):
    """Per-query seconds from either a driver BENCH_r*.json (whose 'tail'
    may be a truncated suffix of the JSON line) or a raw Bench stdout
    line / {"queries": ...} object."""
    text = open(path).read()
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        d = {"tail": text}
    if isinstance(d, dict) and "queries" in d and isinstance(d["queries"], dict):
        return {k: float(v) for k, v in d["queries"].items()}
    src = d.get("tail", "") if isinstance(d, dict) else ""
    # exclude the spread map's nested objects — only scalar "q..":N pairs
    pairs = re.findall(r'"(q\d+[a-z0-9_]*)":([0-9.eE+-]+)', src)
    return {k: float(v) for k, v in pairs}

def load_bench_spread(path):
    """Per-query rep spread {q: {med,min,max,gc[,reps]}} from a bench
    record that carries one (r10+ Bench; r13+ adds reps =
    [(pass, startOffsetSec, durSec), ...] provenance), else {}. Tails
    truncate from the left, so a partial spread map parses to whatever
    survived."""
    text = open(path).read()
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        d = {"tail": text}
    if isinstance(d, dict) and isinstance(d.get("spread"), dict):
        out = {}
        for k, v in d["spread"].items():
            if not isinstance(v, dict):
                continue
            e = {f: float(x) for f, x in v.items()
                 if not isinstance(x, (list, dict))}
            if isinstance(v.get("reps"), list):
                e["reps"] = [(int(p), float(a), float(t))
                             for p, a, t in v["reps"]]
            out[k] = e
        return out
    src = d.get("tail", "") if isinstance(d, dict) else ""
    out = {}
    # scalar fields regardless of what follows (a reps array or the
    # closing brace) — r13 records carry both
    for m in re.finditer(
            r'"(q\d+[a-z0-9_]*)":\{((?:"(?:med|min|max|gc)":[0-9.eE+-]+,?)+)',
            src):
        fields = dict(re.findall(r'"(med|min|max|gc)":([0-9.eE+-]+)', m.group(2)))
        if fields:
            out[m.group(1)] = {k: float(v) for k, v in fields.items()}
    return out

def load_bench_box(path):
    """Box-state fields {load1_start, load1_end, psi10_start, psi10_end,
    psi_total_delta_s, probe_start_s, probe_end_s} from an r14+ bench
    record (Bench samples /proc/loadavg, /proc/pressure/cpu and a
    fixed-work JVM microprobe around the timed window), else {}.
    Negative values are 'unavailable' sentinels and are dropped."""
    text = open(path).read()
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        d = {"tail": text}
    box = d.get("box") if isinstance(d, dict) else None
    if not isinstance(box, dict):
        # tail records: the box object sits near the end, so it usually
        # survives truncation — parse it positionally
        src = d.get("tail", "") if isinstance(d, dict) else ""
        m = re.search(r'"box":\{([^}]*)\}', src)
        if not m:
            return {}
        box = dict(re.findall(r'"([a-z0-9_]+)":(-?[0-9.eE+]+)', m.group(1)))
        pm = re.search(r'"probes_mid":(\[(?:\[[^\]]*\],?)*\])', src)
        if pm:
            try:
                box["probes_mid"] = json.loads(pm.group(1))
            except json.JSONDecodeError:
                pass
    out = {}
    for k, v in box.items():
        if k == "probes_mid" and isinstance(v, list):
            # r18+: [[pass, probe_s, probe_mt_s], ...] mid-run samples
            out[k] = [(int(p), float(a), float(b)) for p, a, b in v
                      if float(a) >= 0 and float(b) >= 0]
        elif isinstance(v, bool) or v in ("true", "false"):
            out[k] = v in (True, "true")
        else:
            try:
                if float(v) >= 0:
                    out[k] = float(v)
            except (TypeError, ValueError):
                pass
    return out

def probe_norm_ratio(new_box, ref_box):
    """Box-speed normalization factor between two bench records
    (VERDICT r17 item 4: gate on probe-normalized ratios, so the gate
    flags CODE, not environment). Prefers the median of the MID-RUN
    multi-core probe samples — box speed measured where the catalog
    actually ran, the signal the r17 endpoint probes missed — then
    endpoint multi-core probes, then endpoint single-thread probes.
    None when either record lacks all probes (gate then uses raw
    ratios, the pre-r18 behavior)."""
    def mid_mt(b):
        vals = sorted(x[2] for x in (b.get("probes_mid") or []))
        return vals[len(vals) // 2] if vals else None
    def end_mt(b):
        s, e = b.get("probe_mt_start_s"), b.get("probe_mt_end_s")
        return (s + e) / 2 if s and e else s or e
    def end_st(b):
        s, e = b.get("probe_start_s"), b.get("probe_end_s")
        return (s + e) / 2 if s and e else s or e
    for pick in (mid_mt, end_mt, end_st):
        n, r = pick(new_box), pick(ref_box)
        if n and r:
            return n / r
    return None

def box_drift_note(new_path, ref_path, new, ref, new_sp, ref_sp):
    """Mechanical same-code-swing adjudication (VERDICT r13 item 3): a
    box-drift swing moves the whole catalog UNIFORMLY and moves the
    fixed-work probe WITH it; a code regression moves specific queries
    and leaves the probe alone. When both records carry probes, compare
    the catalog's median min-of-reps ratio to the probe ratio: if the
    catalog moved >=10% and the probe explains >=half the move (ratio
    within 15% of the probe's), classify the swing as box drift on the
    output — the r10–r13 recurring adjudication, made mechanical."""
    nb, rb = load_bench_box(new_path), load_bench_box(ref_path)
    probe_n = nb.get("probe_start_s")
    probe_r = rb.get("probe_start_s")
    common = [q for q in set(new) & set(ref) if new[q] > 0 and ref[q] > 0]
    if len(common) < 20:
        return None
    ratios = sorted(
        (new_sp.get(q, {}).get("min", new[q]) /
         ref_sp.get(q, {}).get("min", ref[q])) for q in common)
    cat = ratios[len(ratios) // 2]
    parts = []
    if probe_n and probe_r:
        pr = probe_n / probe_r
        parts.append(f"fixed-work probe {probe_r:.2f}s -> {probe_n:.2f}s "
                     f"({pr:.2f}x)")
        # the probe must EXPLAIN the move, not merely sit within a fixed
        # band of it (a fixed 15% band would bless a uniform 12% code
        # regression under a FLAT probe): the residual the probe leaves
        # unexplained must be at most half the catalog's move
        if abs(cat - 1.0) >= 0.10 and abs(cat - pr) <= 0.5 * abs(cat - 1.0):
            parts.append(
                f"catalog med ratio {cat:.2f}x tracks the probe — "
                "uniform shift classified BOX DRIFT, not code")
        elif abs(cat - 1.0) >= 0.10:
            parts.append(
                f"catalog med ratio {cat:.2f}x does NOT track the probe "
                "— the shift is not box speed; inspect per-query flags")
    elif nb:
        parts.append("box fields present only in the new record "
                     "(reference predates r14) — no probe comparison")
    if nb.get("load1_start") is not None:
        parts.append(f"load1 {nb.get('load1_start'):.1f}->"
                     f"{nb.get('load1_end', -1):.1f}")
    if nb.get("psi_total_delta_s") is not None:
        parts.append(f"cpu-psi stall {nb['psi_total_delta_s']:.0f}s over the run")
    # r16 (VERDICT r15 item 6): two signals for the residual the probe
    # cannot see — the r15 record carried a ~1.17x same-code drift with
    # quiet PSI and an unmoved probe. (a) JIT: a run that pays an
    # outsized compile bill executes interpreted/deoptimized code —
    # box-speed-invisible, catalog-visible; attribute when the probe
    # did NOT explain the move and the extra compile seconds cover
    # >= half of it. (b) Page cache: a run starting on a much colder
    # cache turns parquet scans into disk reads the pure-CPU probe
    # never sees.
    probe_unexplained = (
        abs(cat - 1.0) >= 0.10 and
        (not (probe_n and probe_r) or
         abs(cat - probe_n / probe_r) > 0.5 * abs(cat - 1.0)))
    # r16 second wave: the MULTI-CORE probe (one xorshift lane per CPU,
    # fixed work). A same-code catalog degradation measured 228 -> 303 s
    # across one afternoon with the single-thread probe FLAT — the box
    # lost aggregate multi-core throughput (host co-tenancy / clock
    # behavior under full-width load), invisible to every one-lane
    # signal. When both records carry probe_mt and it EXPLAINS the move
    # (same residual rule as the single-thread probe), classify.
    mt_n = nb.get("probe_mt_start_s")
    mt_r = rb.get("probe_mt_start_s")
    if mt_n and mt_r:
        mtr = mt_n / mt_r
        parts.append(f"multi-core probe {mt_r:.2f}s -> {mt_n:.2f}s ({mtr:.2f}x)")
        if probe_unexplained and abs(cat - mtr) <= 0.5 * abs(cat - 1.0):
            parts.append(
                f"catalog med ratio {cat:.2f}x tracks the MULTI-CORE probe "
                "under a flat single-thread probe — uniform shift classified "
                "MULTICORE BOX DRIFT, not code")
            probe_unexplained = False
    jit_n, jit_r = nb.get("jit_delta_ms"), rb.get("jit_delta_ms")
    if jit_n is not None and jit_r is not None:
        parts.append(f"jit compile {jit_r / 1000:.1f}s -> {jit_n / 1000:.1f}s")
        if probe_unexplained and cat > 1.0:
            move_s = sum(new_sp.get(q, {}).get("min", new[q]) -
                         ref_sp.get(q, {}).get("min", ref[q]) for q in common)
            extra_jit_s = (jit_n - jit_r) / 1000.0
            if move_s > 0 and extra_jit_s >= 0.5 * move_s:
                parts.append(
                    f"extra JIT compile {extra_jit_s:.1f}s covers >= half the "
                    f"{move_s:.1f}s catalog move — classified JIT DRIFT, not code")
    cach_n = nb.get("cached_kb_start")
    cach_r = rb.get("cached_kb_start")
    if cach_n is not None and cach_r is not None and cach_r > 0:
        parts.append(f"page cache at start {cach_r / 1048576:.1f} -> "
                     f"{cach_n / 1048576:.1f} GiB")
        if probe_unexplained and cat > 1.0 and cach_n / cach_r <= 0.5:
            parts.append(
                "new record started on a <= half-size page cache — "
                "classified COLD-CACHE DRIFT candidate, not code")
    return "; ".join(parts) if parts else None

def load_correctness(path):
    return json.load(open(path))

def verdict(row):
    if row.get("err") == "no_oracle":
        return "rows-only"
    if row.get("err"):
        return f"error: {row['err']}"
    if row.get("hash_match") is True:
        return "pass"
    if row.get("rows_match") is True and row.get("hash_match") is False:
        return "HASH-FAIL"
    return "FAIL"

def arg_opt(args, name, default=None):
    if name in args:
        i = args.index(name)
        v = args[i + 1]
        del args[i:i + 2]
        return v
    return default

def cmd_gen(args):
    cpath = arg_opt(args, "--correctness") or newest("CORRECTNESS_r*.json")
    rounds = bench_rounds()
    order = sorted(rounds)
    bpath = arg_opt(args, "--bench") or (rounds[order[-1]] if order else None)
    ppath = arg_opt(args, "--prev")
    if ppath is None and len(order) > 1:
        ppath = rounds[order[-2]]
    corr = load_correctness(cpath)
    bench = load_bench_queries(bpath) if bpath else {}
    prev = load_bench_queries(ppath) if ppath else {}
    counts = {}
    for name, row in corr.items():
        counts[verdict(row)] = counts.get(verdict(row), 0) + 1
    lines = [
        "# STATUS — generated by tools/status.py, do not edit",
        "",
        f"Sources: correctness=`{os.path.basename(cpath)}`, "
        f"bench=`{os.path.basename(bpath) if bpath else '-'}`, "
        f"prev=`{os.path.basename(ppath) if ppath else '-'}`.",
        "BENCH_full_rNN.json snapshots carry the complete per-query record;",
        "driver BENCH_rNN.json tails are truncated — queries without a",
        "surviving value show `-`. Regenerate: `python3 tools/status.py gen`.",
        "",
        "Summary: " + ", ".join(f"{v} {k}" for k, v in sorted(counts.items())),
        "",
    ]
    # Memo-honest cold totals (VERDICT r19 item 1): the per-query map
    # sums warm medians — SessionCache artifact builds are paid in the
    # warmup pass, off the per-query record. Surface the bench's own
    # value_cold (= value + Σ memo_pays) so round-over-round comparisons
    # can use the single-pass cost a cold process would pay.
    try:
        braw = json.load(open(bpath)) if bpath else {}
    except (json.JSONDecodeError, OSError):
        braw = {}
    if isinstance(braw, dict) and "value_cold" in braw:
        lines += [
            f"Totals: warm-medians {braw.get('value', 0):.1f} s, "
            f"memo builds {braw.get('memo_build_s', 0):.1f} s, "
            f"**cold {braw['value_cold']:.1f} s** "
            "(value_cold = value + all SessionCache builds; compare cold "
            "totals across rounds — memo-shift cannot masquerade as speedup).",
            "",
        ]
    lines += [
        "| query | correctness | bench s | prev s | ratio |",
        "|---|---|---|---|---|",
    ]
    for name in sorted(corr):
        b = bench.get(name)
        p = prev.get(name)
        ratio = f"{b / p:.2f}" if b and p else "-"
        lines.append(
            f"| {name} | {verdict(corr[name])} | "
            f"{f'{b:.2f}' if b is not None else '-'} | "
            f"{f'{p:.2f}' if p is not None else '-'} | {ratio} |")
    if ADJUDICATIONS:
        lines += ["", "## Adjudications (resolved gate flags)", ""]
        for q, a in sorted(ADJUDICATIONS.items()):
            lines.append(f"- **{q}** (judged {a['ref']:.2f}s→{a['new']:.2f}s) "
                         f"— {a['note']}")
    out = os.path.join(ROOT, "STATUS.md")
    open(out, "w").write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(corr)} queries)")

def dangling_specs(text, test_root):
    """Spec names `text` cites that no `class …Spec` under test_root
    defines, sorted."""
    defined = set()
    for d, _, files in os.walk(test_root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f)) as fh:
                    defined.update(re.findall(r"\bclass\s+(\w+Spec)\b", fh.read()))
    cited = set(re.findall(r"\b([A-Z]\w*Spec)\b", text))
    return sorted(cited - defined)

FILE_EXTS = {"scala", "md", "py", "json", "sh", "sbt", "parquet", "txt"}

def dangling_members(text, main_root):
    """Backticked `Object.member` citations in `text` whose Object is an
    `object` defined under main_root but whose member no file defining
    that object declares (def/val/var/type/class/trait/object), sorted.
    A bare name cited right after one (`Obj.member` / `helper`) is a
    member of the same object and is checked the same way. File names
    (`SURVEY.md`, `Streams.scala`) and names that are no engine object
    (`Dataset.unpivot`) are skipped."""
    sources = {}
    for d, _, files in os.walk(main_root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f)) as fh:
                    src = fh.read()
                for obj in re.findall(r"\bobject\s+(\w+)", src):
                    sources.setdefault(obj, []).append(src)
    cited = [(obj, member)
             for span in re.findall(r"`([^`\n]+)`", text)
             for obj, member in re.findall(r"\b([A-Z]\w*)\.(\w+)", span)]
    cited += re.findall(r"`[^`\n]*\b([A-Z]\w*)\.\w+`\s*/\s*`(\w+)`", text)
    bad = set()
    for obj, member in cited:
        if obj not in sources or member in FILE_EXTS:
            continue
        decl = re.compile(r"\b(?:def|val|var|type|class|trait|object)\s+"
                          + re.escape(member) + r"\b")
        if not any(decl.search(src) for src in sources[obj]):
            bad.add(f"{obj}.{member}")
    return sorted(bad)

def cmd_check_coverage(args):
    cpath = arg_opt(args, "--correctness") or newest("CORRECTNESS_r*.json")
    corr = load_correctness(cpath)
    by_num = {}
    for name, row in corr.items():
        m = re.match(r"q(\d+)_", name)
        if m:
            by_num[m.group(1)] = (name, row)
    text = open(os.path.join(ROOT, "COVERAGE.md")).read()
    bad = []
    for m in re.finditer(r"\bq(\d+)(?:_[a-z0-9_]+)?\s*([◆○])", text):
        num, marker = m.group(1), m.group(2)
        if num not in by_num:
            bad.append(f"q{num} {marker}: not in {os.path.basename(cpath)}")
            continue
        name, row = by_num[num]
        v = verdict(row)
        if marker == "◆" and v != "pass":
            bad.append(f"q{num} claims ◆ but {name} is {v}")
        if marker == "○" and v != "rows-only":
            bad.append(f"q{num} claims ○ but {name} is {v}")
    for spec in dangling_specs(text, os.path.join(ROOT, "src", "test")):
        bad.append(f"{spec}: cited, but no class {spec} under src/test")
    for ref in dangling_members(text, os.path.join(ROOT, "src", "main")):
        bad.append(f"{ref}: cited, but {ref.split('.')[0]} in src/main "
                   f"declares no {ref.split('.')[1]}")
    if bad:
        print(f"COVERAGE.md drift vs {os.path.basename(cpath)}:")
        for b in sorted(set(bad)):
            print(f"  {b}")
        sys.exit(1)
    print(f"COVERAGE.md markers consistent with {os.path.basename(cpath)}")

def load_bench_memo_pays(path):
    """The memo-pay ledger [{memo, q, pass, at, cost_s}, ...] from an
    r15+ bench record, else None (pre-ledger record — the advisories
    fall back to the un-cross-referenced wording)."""
    try:
        d = json.loads(open(path).read())
    except (OSError, json.JSONDecodeError):
        return None
    mp = d.get("memo_pays") if isinstance(d, dict) else None
    return mp if isinstance(mp, list) else None


def spread_advisories(spread, flagged=(), ratio_floor=2.0, min_floor=0.3,
                      memo_pays=None):
    """Non-gating 'wide spread, flat min' notes (REVIEW_r10 §A): the
    min-of-reps gate is deliberately blind to intermittent contention —
    a query whose min stayed flat but whose max ran >2x the min carries
    exactly the signature that needed a manual rerun to adjudicate in
    r9 (q34) and r10 (q103). Surface it on the record, don't gate on it
    (the min IS the contention-free claim). `flagged` suppresses queries
    the gate already reported; `min_floor` skips sub-noise queries whose
    2x is 0.1s->0.2s jitter.

    Memo-pay cross-reference (VERDICT r14 item 5): when the record
    carries the SessionCache ledger (memo_pays is a list), a wide
    spread is mechanically adjudicated instead of guessed at —
    EXPLAINED when a timed-pass memo build attributed to this query
    covers at least half the (max−min) gap (first-touch cost, not
    contention or code), or ESCALATED when the ledger shows no such
    build and GC doesn't cover the gap either (the r14 q34 signature:
    3.56/7.60/7.70 with the pair memo paid in warmup — the spread had
    another, unnamed cause and must be chased, not shrugged at)."""
    out = []
    pays = memo_pays or []
    for name in sorted(spread):
        sp = spread[name]
        mn, mx = sp.get("min"), sp.get("max")
        if mn is None or mx is None or name in flagged:
            continue
        if mn >= min_floor and mn > 0 and mx / mn > ratio_floor:
            gc = sp.get("gc")
            gcs = f", gc={gc:.1f}s" if gc is not None else ""
            base = (
                f"{name}: wide spread, flat min (min {mn:.2f}s / max {mx:.2f}s"
                f" = {mx / mn:.1f}x{gcs})")
            if memo_pays is None:
                out.append(base + " — context pressure signature, "
                           "not gated; solo-rerun before trusting the median")
                continue
            gap = mx - mn
            covering = [p for p in pays
                        if p.get("q") == name and p.get("pass", -1) >= 1
                        and p.get("cost_s", 0.0) >= 0.5 * gap]
            if covering:
                p = max(covering, key=lambda x: x.get("cost_s", 0.0))
                out.append(
                    base + f" — EXPLAINED: paid memo build '{p['memo']}' "
                    f"({p['cost_s']:.1f}s) in pass {p['pass']} — "
                    "first-touch cost, not contention or code; not gated")
            elif gc is not None and 2.0 * gc >= gap:
                out.append(
                    base + " — memo ledger rules out memo payment; the GC "
                    "bill covers the gap (collector pressure, not code); "
                    "not gated")
            else:
                out.append(
                    base + " — memo ledger rules out memo payment and GC "
                    "does not cover the gap — ESCALATE: unexplained bimodal "
                    "spread; solo-rerun + plan-diff before trusting this "
                    "record (not gated)")
    return out

def dispersion_summary(spread, wide_ratio=2.0):
    """One-line catalog-level rep-dispersion digest (VERDICT r11 item 1):
    r11's gate-of-record was poisoned by contention windows that showed
    up as 8x intra-run wobble on individual queries — a record-level
    stat makes that state legible without scanning 200 advisories.
    Reports the median and p90 of per-query max/min ratios plus how
    many queries exceeded `wide_ratio`; a healthy record reads
    ~'med 1.1x, p90 1.4x, 3/223 wide', a poisoned one 'med 1.6x,
    p90 4x, 60/223 wide'. Since r12 the bench interleaves reps
    round-robin, so wide ratios should localize to genuinely
    variance-prone queries (ImageIO codecs), not contention windows."""
    ratios = sorted(sp["max"] / sp["min"] for sp in spread.values()
                    if sp.get("min") and sp.get("max") and sp["min"] > 0)
    if not ratios:
        return None
    med = ratios[len(ratios) // 2]
    p90 = ratios[min(len(ratios) - 1, int(len(ratios) * 0.9))]
    wide = sum(1 for r in ratios if r > wide_ratio)
    line = (f"max/min med {med:.2f}x, p90 {p90:.2f}x, "
            f"{wide}/{len(ratios)} queries > {wide_ratio:.0f}x")
    burst = burst_window(spread, wide_ratio)
    if burst:
        line += "; " + burst
    return line

def burst_window(spread, wide_ratio=2.0, min_cluster=3, span_frac=0.25):
    """Name a contention burst from rep provenance (VERDICT r12 item 4):
    under round-robin interleaving a box-level contention window shorter
    than a full pass clips ONE contiguous wall-clock segment, so the
    slow reps of the affected queries share a pass and sit close
    together in start-offset — r12's record showed exactly this
    (contiguous catalog ids q182–q189 all wide) but the burst had to be
    INFERRED from id adjacency. With reps = [(pass, at, dur), ...] in
    the record, this names it: if >=70% of wide queries' slowest reps
    fall in one pass within a window <= span_frac of the whole run,
    that's a burst (context), not code. Returns a descriptive string or
    None (not enough wide queries, no provenance, or no clustering)."""
    slow = []   # (query, pass, startOffset) of each wide query's slowest rep
    total_span = 0.0
    with_reps = 0
    for name, sp in spread.items():
        reps = sp.get("reps")
        if not reps:
            continue
        with_reps += 1
        total_span = max(total_span, max(a + t for _, a, t in reps))
        mn, mx = sp.get("min"), sp.get("max")
        if not mn or not mx or mn <= 0 or mx / mn <= wide_ratio:
            continue
        p, a, t = max(reps, key=lambda r: r[2])
        slow.append((name, p, a))
    # ADVICE r13: a left-truncated tail record keeps reps only for the
    # late-alphabet queries, shrinking the estimated run span and making
    # the span_frac test spuriously permissive — refuse to name a burst
    # from an unrepresentative window
    # (zero reps anywhere = a pre-r13 record, not truncation — stay silent)
    if with_reps and with_reps / len(spread) < 0.5:
        return ("rep provenance truncated "
                f"({with_reps}/{len(spread)} queries carry reps) — "
                "burst detection skipped; read the full stamped record")
    if len(slow) < min_cluster or total_span <= 0:
        return None
    by_pass = {}
    for name, p, a in slow:
        by_pass.setdefault(p, []).append((name, a))
    p, members = max(by_pass.items(), key=lambda kv: len(kv[1]))
    if len(members) / len(slow) < 0.7:
        return None
    ats = sorted(a for _, a in members)
    span = ats[-1] - ats[0]
    if span > span_frac * total_span:
        return None
    return (f"burst suspect: {len(members)}/{len(slow)} wide queries' "
            f"slowest reps in pass {p} within [{ats[0]:.0f}s..{ats[-1]:.0f}s] "
            f"of the {total_span:.0f}s run — one contention window, not code")

def cmd_bench_gate(args):
    new_path = resolve_bench(args[0])
    if len(args) > 1:
        ref_path = resolve_bench(args[1])
    else:
        # default reference: the best record of the latest round that is
        # NOT the record under test (else a full-catalog run would gate
        # against itself and trivially pass)
        rounds = bench_rounds()
        cands = [rounds[n] for n in sorted(rounds, reverse=True)
                 if os.path.realpath(rounds[n]) != os.path.realpath(new_path)]
        if not cands:
            print("bench-gate: no reference record available")
            sys.exit(2)
        ref_path = cands[0]
    new = load_bench_queries(new_path)
    ref = load_bench_queries(ref_path)
    new_sp = load_bench_spread(new_path)
    ref_sp = load_bench_spread(ref_path)
    # probe normalization (VERDICT r17 item 4): divide every per-query
    # ratio by the records' box-speed ratio so a uniform environment
    # shift stops tripping per-query flags — and a real code regression
    # on a FASTER box stops hiding behind it
    norm = probe_norm_ratio(load_bench_box(new_path), load_bench_box(ref_path))
    cleared = []
    bad = []
    # Bench records a failed query as -1.0 (and lists it under "failed")
    # — surface those before any ratio math.
    for name in sorted(new):
        if new[name] < 0:
            bad.append(f"{name}: FAILED in {os.path.basename(new_path)}")
    for name in sorted(set(new) & set(ref)):
        if new[name] < 0 or ref[name] < 0:
            continue
        # Compare MIN-of-reps when the record carries a spread: the
        # median can't discard SUSTAINED catalog-context pressure (all
        # three reps of r9's q34 saw the same contention and the record
        # read 11.7s vs 5.15s solo), but the min of the reps is the
        # best contention-free estimate the run produced — a code
        # regression slows every rep including the min, while context
        # pressure usually lets at least one rep through. Since r12 the
        # bench interleaves reps round-robin across the catalog, so a
        # query's samples are spread over the whole run and a
        # contention window shorter than a full pass can poison at most
        # ONE of them — min-of-reps survives by construction.
        new_s = new_sp.get(name, {}).get("min", new[name])
        ref_s = ref_sp.get(name, {}).get("min", ref[name])
        # machine noise is ±30-40% around the 1s scale: require BOTH a
        # 1.5x ratio AND a 0.75s absolute delta (the real regressions
        # this gate exists for — q46's 7.8->14.8s, q43's 2.4->4.2s —
        # clear both; a 0.7->1.2s wobble clears neither meaningfully)
        ratio = new_s / ref_s if ref_s > 0 else float("inf")
        eff = ratio / norm if norm else ratio
        # normalize the delta guard too (ADVICE r18): on a FASTER box
        # (norm < 1) a real regression can hide under the raw 0.75s
        # floor — compare box-speed-adjusted seconds against the ref
        eff_delta = (new_s / norm if norm else new_s) - ref_s
        if eff > 1.5 and eff_delta > 0.75:
            # surface the RECORDED adjudication (scoped to the timings it
            # judged), not a canned phrase — "prior flag was noise" and
            # "this delta is deliberate" need opposite responses
            adj = adjudication_for(name, ref_s, new_s)
            note = f" [adjudicated: {adj}]" if adj else ""
            kind = ("min-of-reps" if name in new_sp and name in ref_sp
                    else "min-of-reps vs median" if name in new_sp
                    else "median")
            gc = new_sp.get(name, {}).get("gc")
            gcs = f", gc={gc:.1f}s" if gc is not None else ""
            normed = f", {eff:.2f}x probe-normalized" if norm else ""
            bad.append(
                f"{name}: {ref_s:.2f}s -> {new_s:.2f}s {kind} "
                f"({ratio:.2f}x{gcs}{normed}){note}")
        elif ratio > 1.5 and new_s - ref_s > 0.75:
            # the RAW gate would have fired; normalization cleared it
            cleared.append(f"{name}: {ref_s:.2f}s -> {new_s:.2f}s "
                           f"({ratio:.2f}x raw, {eff:.2f}x normalized)")
    flagged = {b.split(":")[0] for b in bad}
    if norm:
        print(f"probe normalization: box-speed ratio {norm:.2f}x "
              f"(mid-run probes preferred) divides every gate ratio")
    if cleared:
        print("cleared by probe normalization (environment, not code):")
        for c in cleared:
            print(f"  {c}")
    advisories = spread_advisories(new_sp, flagged,
                                   memo_pays=load_bench_memo_pays(new_path))
    if advisories:
        print(f"spread advisories (non-gating) in {os.path.basename(new_path)}:")
        for a in advisories:
            print(f"  {a}")
    summary = dispersion_summary(new_sp)
    if summary:
        print(f"rep dispersion in {os.path.basename(new_path)}: {summary}")
    box_note = box_drift_note(new_path, ref_path, new, ref, new_sp, ref_sp)
    if box_note:
        print(f"box state: {box_note}")
    if bad:
        print(f"bench regressions vs {os.path.basename(ref_path)}:")
        for b in bad:
            print(f"  {b}")
        sys.exit(1)
    print(f"no query > 1.5x vs {os.path.basename(ref_path)} "
          f"({len(set(new) & set(ref))} compared)")

def main():
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "gen":
        cmd_gen(args)
    elif cmd == "check-coverage":
        cmd_check_coverage(args)
    elif cmd == "bench-gate":
        cmd_bench_gate(args)
    else:
        print(__doc__)
        sys.exit(2)

if __name__ == "__main__":
    main()
