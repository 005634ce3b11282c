"""Seeded input generator for the llm_corpus workload.

Same seed, same bytes: every random draw comes from a generator seeded
with the run's --seed, and files are written in a fixed order with fixed
writer settings. The generator also writes the planted truth the checks
need next to the inputs, in a file the benchmark JVM never reads. The
cdc_stream feed is generated inside the JVM (perfbench/src/CdcStream.scala)
because its timestamps are its schedule.
"""
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

MARKERS = {"en": ["the", "and", "of", "is"], "de": ["der", "und", "die", "ist"],
           "es": ["el", "la", "que", "es"], "fr": ["le", "la", "et", "est"]}


def _fresh(path):
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def _lang_of(tokens):
    """The planted language must win the marker-word count outright."""
    scores = {l: sum(tokens.count(w) for w in ws) for l, ws in MARKERS.items()}
    best = max(scores.values())
    winners = [l for l, s in scores.items() if s == best]
    return winners[0] if best > 0 and len(winners) == 1 else None


def _shingles(tokens, k=3):
    return {" ".join(tokens[i:i + k]) for i in range(len(tokens) - k + 1)}


def _jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


class _Corpus:
    def __init__(self, rng, p):
        self.rng, self.p = rng, p
        letters = "abcdefghijklmnopqrstuvwxyz"
        self.vocab = {}
        for lang in sorted(MARKERS):
            words = set()
            while len(words) < p["vocab_per_lang"]:
                words.add("".join(rng.choice(letters) for _ in range(rng.randint(4, 9))))
            self.vocab[lang] = sorted(words)
        self.langs = sorted(p["lang_mix"])
        self.weights = [p["lang_mix"][l] for l in self.langs]

    def n_words(self):
        p = self.p
        n = int(round(self.rng.lognormvariate(p["doc_words_lognormal_mu"],
                                              p["doc_words_lognormal_sigma"])))
        return max(p["doc_words_min"], min(p["doc_words_max"], n))

    def tokens(self, lang, n):
        while True:
            toks = [self.rng.choice(MARKERS[lang]) if self.rng.random() < self.p["marker_rate"]
                    else self.rng.choice(self.vocab[lang]) for _ in range(n)]
            if _lang_of(toks) == lang:
                return toks

    def fresh(self):
        lang = self.rng.choices(self.langs, self.weights)[0]
        return lang, self.tokens(lang, self.n_words())

    def variant(self, lang, toks):
        """A near-duplicate at a shingle Jaccard inside the planted range."""
        p = self.p
        while True:
            target = self.rng.uniform(p["planted_jaccard_min"], p["planted_jaccard_max"])
            sh = len(toks) - 2
            edits = max(1, int(round(sh * (1 - target) / (3 * (1 + target)))))
            out = list(toks)
            for i in self.rng.sample(range(len(out)), edits):
                out[i] = self.rng.choice(self.vocab[lang])
            j = _jaccard(toks, out)
            if p["planted_jaccard_min"] <= j < 1.0 and _lang_of(out) == lang:
                return out, j


def _text(tokens):
    """Words joined by spaces, a newline after every 16th word."""
    lines = [" ".join(tokens[i:i + 16]) for i in range(0, len(tokens), 16)]
    return "\n".join(lines)


def _docs_table(ids, texts):
    return pa.table({"id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})


def _write_raw(rng, ids, texts, path):
    """The raw dump the ingest job lands: one JSON object per line with
    the document under `body` and its source under `url`."""
    with open(path, "w", encoding="utf-8") as f:
        for i, t in zip(ids, texts):
            scheme = "https" if rng.random() < 0.8 else "http"
            url = f"{scheme}://site{rng.randint(0, 49):02d}.example/p/{i}"
            f.write(json.dumps({"doc_id": i, "url": url, "body": t}, sort_keys=True) + "\n")


def gen_llm(seed, p, out):
    """Raw JSON-lines corpus (plus records without a body, which the ingest
    job filters out) with planted exact duplicates (case and padding
    variants), near-duplicates at a known Jaccard, benchmark-contaminated documents
    and a language mix; a benchmark passage set; a warm-up corpus; and
    delta_count deltas whose planted near-duplicates point at kept docs.
    Writes truth.json with the exact kept ids of the corpus and of each
    delta, the contaminated ids, and each kept doc's language and words."""
    _fresh(out)
    rng = random.Random(seed)
    c = _Corpus(rng, p)
    n = p["docs"]
    n_exact = int(round(p["exact_dup_share"] * n))
    n_near = int(round(p["near_dup_share"] * n))
    n_contam = int(round(p["contamination_share"] * n))
    n_orig = n - n_exact - n_near

    bench = [c.tokens("en", p["bench_passage_words"]) for _ in range(p["bench_passages"])]
    # originals: (family, lang, tokens, text, contaminated)
    docs = []
    for f in range(n_orig):
        lang, toks = c.fresh()
        docs.append({"family": f, "lang": lang, "tokens": toks, "contam": False})
    for d in rng.sample(docs, n_contam):
        at = rng.randint(0, len(d["tokens"]))
        d["tokens"] = d["tokens"][:at] + rng.choice(bench) + d["tokens"][at:]
        d["contam"] = True
    for d in docs:
        d["text"] = _text(d["tokens"])
    clean = [d for d in docs if not d["contam"]]
    for d in rng.sample(clean, n_exact):
        t = d["text"]
        t = t.upper() if rng.random() < 0.5 else "  " + t + " "
        docs.append({**d, "text": t})
    for d in rng.sample(clean, n_near):
        toks, _ = c.variant(d["lang"], d["tokens"])
        docs.append({**d, "tokens": toks, "text": _text(toks)})
    rng.shuffle(docs)
    for i, d in enumerate(docs):
        d["id"] = i + 1

    # truth: exact dedup keeps the min id per lower(trim(text)); the
    # survivors of a family form one near-dup component (every planted
    # variant is within the planted Jaccard of its original) and keep their
    # min id; contaminated survivors are then dropped
    by_norm = {}
    for d in docs:
        k = d["text"].strip(" ").lower()
        by_norm[k] = min(by_norm.get(k, d["id"]), d["id"])
    survivors = [d for d in docs if by_norm[d["text"].strip(" ").lower()] == d["id"]]
    fam_min = {}
    for d in survivors:
        fam_min[d["family"]] = min(fam_min.get(d["family"], d["id"]), d["id"])
    deduped = [d for d in survivors if fam_min[d["family"]] == d["id"]]
    contaminated = sorted(d["id"] for d in deduped if d["contam"])
    kept = [d for d in deduped if not d["contam"]]

    n_junk = int(round(p["null_body_share"] * n))
    raw = [(d["id"], d["text"]) for d in docs] + [(n + 1 + k, None) for k in range(n_junk)]
    raw.sort(key=lambda r: rng.random())
    _write_raw(rng, [r[0] for r in raw], [r[1] for r in raw], os.path.join(out, "corpus.json"))
    _write_parquet(pa.table({"id": pa.array(range(1, len(bench) + 1), pa.int64()),
                             "text": pa.array([" ".join(b) for b in bench])}),
                   os.path.join(out, "bench.parquet"))
    warm = [c.fresh() for _ in range(p["warm_docs"])]
    _write_raw(rng, list(range(1, len(warm) + 1)), [_text(t) for _, t in warm],
               os.path.join(out, "warm_corpus.json"))

    os.makedirs(os.path.join(out, "deltas"))
    store = list(kept)
    next_id = n + n_junk + 1
    deltas = []
    for k in range(p["delta_count"]):
        n_dn = int(round(p["delta_near_dup_share"] * p["delta_size"]))
        rows = [{"id": None, "near": True, "tokens": c.variant(s["lang"], s["tokens"])[0]}
                for s in rng.sample(store, n_dn)]
        for _ in range(p["delta_size"] - n_dn):
            lang, toks = c.fresh()
            rows.append({"id": None, "near": False, "tokens": toks, "lang": lang})
        rng.shuffle(rows)
        for r in rows:
            r["id"] = next_id
            next_id += 1
        _write_parquet(_docs_table([r["id"] for r in rows], [_text(r["tokens"]) for r in rows]),
                       os.path.join(out, "deltas", f"delta_{k:02d}.parquet"))
        kept_d = [r for r in rows if not r["near"]]
        store += kept_d
        deltas.append({"ids": sorted(r["id"] for r in rows),
                       "kept": sorted(r["id"] for r in kept_d)})

    truth = {"kept": sorted(d["id"] for d in kept), "contaminated": contaminated,
             "lang": {str(d["id"]): d["lang"] for d in kept},
             "n_words": {str(d["id"]): len(d["text"].split()) for d in kept},
             "corpus_ids": sorted(d["id"] for d in docs), "deltas": deltas}
    with open(os.path.join(out, "truth.json"), "w", encoding="utf-8") as f:
        json.dump(truth, f, sort_keys=True)
