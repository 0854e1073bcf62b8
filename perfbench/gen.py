"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs. Inputs are written once per seed under the
benchmark's work directory and reused, so generation never counts
towards a run's set-up time.

  corpus(dir, seed, ...)     documents/embeddings with fixed exact-dup,
                             near-dup and language shares
  request_mix(seed, ...)     the queue-serve request draw
  tool_events(seed, ...)     the status-stream event schedule
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("data query small row slow fast big table join group window sort "
         "hash stream batch filter line order column part value agg key "
         "vector merge scan spark customer").split()
STOP = "the a of and is to".split()
# a few marker words per language, so the engine's lang-ID and language
# filter see a real mix instead of an all-English corpus
MARKERS = {"en": STOP, "de": "der die das und".split(), "fr": "le la et".split(),
           "es": "el los y".split(), "zh": []}
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _doc_text(rng, lang, n_words):
    words = list(rng.choice(WORDS, n_words))
    marks = MARKERS[lang]
    for _ in range(n_words // 6 if marks else 0):
        words.insert(int(rng.integers(0, len(words) + 1)), str(rng.choice(marks)))
    return " ".join(words)


def corpus(out, seed, n_docs, exact_dup=0.10, near_dup=0.15, dim=64):
    """documents + embeddings. `exact_dup` of the docs copy an earlier doc
    verbatim (modulo case/whitespace), `near_dup` copy one with a few
    token edits; the embeddings get the same shares as jittered copies of
    earlier vectors."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    texts, langs = [], []
    kinds = rng.choice(3, n_docs, p=[1 - exact_dup - near_dup, exact_dup, near_dup])
    for i in range(n_docs):
        if i < 10 or kinds[i] == 0:
            lang = LANGS[int(rng.choice(5, p=LANG_P))]
            t = _doc_text(rng, lang, int(rng.integers(15, 90)))
        else:
            j = int(rng.integers(0, i))
            lang, toks = langs[j], texts[j].split(" ")
            if kinds[i] == 1:
                t = " ".join(toks).upper() if rng.random() < 0.3 else "  ".join(toks)
            else:
                for _ in range(max(1, len(toks) // 20)):
                    toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS))
                t = " ".join(toks)
        texts.append(t)
        langs.append(lang)
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_docs).astype(np.int32)
    cents = rng.normal(size=(10, dim))
    vecs = cents[labels] + rng.normal(scale=1.5, size=(n_docs, dim))
    vkind = rng.choice(2, n_docs, p=[1 - exact_dup - near_dup, exact_dup + near_dup])
    for i in range(1, n_docs):
        if vkind[i]:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(scale=0.02, size=dim)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels})


def zipf_weights(n, s=1.1):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def request_mix(seed, weights, n, scopes=None):
    """`n` requests in smooth weighted round-robin order, so every window
    of the sequence holds each op in proportion to `weights` (within one
    request); the seed picks where in the cycle the run starts and each
    request's scope, drawn from a skewed distribution over `scopes`
    (which scope is hottest also depends on the seed). Keeping the mix
    exact in every window keeps the latency mix the same across seeds."""
    rng = np.random.default_rng([seed, 3])
    names = sorted(weights)
    total = float(sum(weights.values()))
    cur = {k: 0.0 for k in names}
    cycle = []
    for _ in range(int(round(total)) * 4):
        for k in names:
            cur[k] += weights[k]
        best = max(names, key=lambda k: cur[k])
        cur[best] -= total
        cycle.append(best)
    off = int(rng.integers(0, len(cycle)))
    out = [{"op": cycle[(off + i) % len(cycle)]} for i in range(n)]
    if scopes:
        order = list(rng.permutation(len(scopes)))
        picks = rng.choice(len(scopes), len(out), p=zipf_weights(len(scopes)))
        for r, p in zip(out, picks):
            r["scope"] = scopes[order[p]]
    return out


def tool_events(seed, prefix, n_keys, key_rate, t0_key_ms=0.0, tools=(3, 12),
                gap_ms=(20, 120), fail=0.2, stall=0.05, late=0.05, late_ms=(20, 150)):
    """Event schedule for the lifecycle stream: each key (plan, phase)
    emits start -> tools -> stop_completed | stop_failed; a `stall` share
    goes silent after its tools (no stop); a `late` share of keys has
    its delivery delayed by `late_ms` behind creation from some event on
    (every later event of that key is held back with it, so no key's
    events overtake each other across deliveries). Keys start
    `1000/key_rate` ms apart from `t0_key_ms`.

    Returns rows sorted by delivery time:
    (due_ms, deliver_ms, key, plan_id, phase, project, kind, tool),
    where `due_ms` is the creation offset that becomes the event time."""
    rng = np.random.default_rng([seed, 4, sum(map(ord, prefix))])
    rows = []
    tool_names = ["Edit", "Read", "Bash", "Write", "Grep"]
    for k in range(n_keys):
        t = t0_key_ms + k * 1000.0 / key_rate
        plan, phase = f"{prefix}-{k // 3}", k % 3 + 1
        project = f"proj_{int(rng.choice(8, p=zipf_weights(8)))}"
        evs = [("start", "")]
        evs += [("tool", tool_names[int(rng.integers(0, 5))])
                for _ in range(int(rng.integers(*tools)))]
        r = rng.random()
        if r >= stall:
            evs.append(("stop_failed" if r < stall + fail else "stop_completed", ""))
        delay_from = int(rng.integers(1, len(evs))) if rng.random() < late else len(evs)
        delay = float(rng.uniform(*late_ms))
        for i, (kind, tool) in enumerate(evs):
            if i:
                t += float(rng.uniform(*gap_ms))
            deliver = t + delay if i >= delay_from else t
            rows.append((round(t, 3), round(deliver, 3), k, plan, phase, project, kind, tool))
    rows.sort(key=lambda r: (r[1], r[2], r[0]))
    return rows


def write_events(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join(map(str, r)) + "\n")
