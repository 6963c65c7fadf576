"""Seeded input generator for the graft benchmark.

Everything the engine sees comes from here and is written to files before
the benchmark's clock starts. The same seed gives byte-identical files.

Each workload gets a directory with:
  search: docs.jsonl, requests.jsonl, warm_requests.jsonl
  ingest: docs.jsonl, batch-NNNN.jsonl, warm-batch.jsonl
  curate: corpus.jsonl, eval.jsonl
plus truth.json, which holds the planted properties the output checks use
and the measured share of each one.
"""

import bisect
import json
import math
import os
import random
import re

# Function words mixed into every sentence. They include the stop words the
# Gopher rule counts, so well-formed documents pass the quality filters.
FUNCTION_WORDS = [
    "the", "of", "and", "to", "that", "with", "have", "be", "in", "is",
    "for", "on", "as", "by", "it", "from", "at", "this", "are", "was",
]

TOKEN_RE = re.compile(r"[a-z0-9_]+(?:-[a-z0-9_]+)*")

DIM = 64


class Sizes:
    """Input sizes per scale. `full` is what the benchmark measures;
    `tiny` is for the self-test."""

    def __init__(self, scale):
        full = scale == "full"
        self.vocab = 4000 if full else 600
        self.search_docs = 800 if full else 120
        self.search_requests = 2000 if full else 200
        # two whole blocks: after one, the per-request latency still falls
        # by about a fifth from the first timed block to the third
        self.warm_requests = 20 if full else 3
        self.ingest_docs = 400 if full else 100
        self.ingest_batches = 40 if full else 6
        self.batch_docs = 40 if full else 20
        self.curate_docs = 800 if full else 240
        self.eval_docs = 30 if full else 12


class Vocab:
    """Pseudo-word vocabulary drawn with Zipf(1.07) frequencies."""

    def __init__(self, rng, size):
        syll = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]
        words, seen = [], set(FUNCTION_WORDS)
        while len(words) < size:
            w = "".join(rng.choice(syll) for _ in range(rng.randint(2, 4)))
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = words
        acc, self.cum = 0.0, []
        for r in range(1, size + 1):
            acc += 1.0 / r ** 1.07
            self.cum.append(acc)

    def draw(self, rng):
        i = bisect.bisect_left(self.cum, rng.random() * self.cum[-1])
        return self.words[min(i, len(self.words) - 1)]


def sentence(rng, vocab, n_words):
    ws = [rng.choice(FUNCTION_WORDS) if rng.random() < 0.4 else vocab.draw(rng)
          for _ in range(n_words)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def doc_text(rng, vocab, min_words=60):
    """A document of sentences grouped into lines. Lengths are log-normal
    (median about 150 words, clipped to [min_words, 900])."""
    target = int(min(900, max(min_words, rng.lognormvariate(math.log(150), 0.6))))
    lines, n = [], 0
    while n < target:
        line = []
        for _ in range(rng.randint(1, 3)):
            k = rng.randint(6, 14)
            line.append(sentence(rng, vocab, k))
            n += k
        lines.append(" ".join(line))
    return "\n".join(lines)


def tokens(text):
    return [t for t in TOKEN_RE.findall(text.lower()) if len(t) >= 2]


def shingle_set(text, n):
    t = tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a, b, n=3):
    sa, sb = shingle_set(a, n), shingle_set(b, n)
    return len(sa & sb) / max(1, len(sa | sb))


def unit(v):
    norm = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / norm for x in v]


def jitter(rng, v, sigma):
    return unit([x + rng.gauss(0.0, sigma) for x in v])


def write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")


def doc_id(i):
    return "d%06d" % i


# ---------------------------------------------------------------- search

# Every block of ten requests has the same make-up and order, so every run
# sees the planned mix however many blocks it gets through: 7 hybrid,
# 2 dense and 1 sparse request; one hybrid request carries a metadata
# filter, one asks for the reranker and one has k above 10. Each slot also
# fixes its query's term count (four of one term, four of two, two of
# three), and the filter alternates between its two kinds from block to
# block: both set a request's cost, so fixing them keeps one seed's run
# as costly as another's. The terms themselves are drawn.
BLOCK = [("hybrid", 1), ("dense", 2), ("hybrid+k", 1), ("hybrid", 2),
         ("sparse", 1), ("hybrid+filter", 2), ("hybrid", 3), ("dense", 3),
         ("hybrid+rerank", 1), ("hybrid", 2)]

# The slots whose answers are checked after the clock stops: every dense
# and sparse request, the filtered one and the first hybrid one.
CHECKED = {i for i, (slot, _) in enumerate(BLOCK)
           if slot in ("dense", "sparse", "hybrid+filter")} | {0}


def gen_block(rng, vocab, ids, n):
    """The n-th block of a stream."""
    block = []
    for slot, terms in BLOCK:
        mode, _, extra = slot.partition("+")
        flt = None
        if extra == "filter":
            if n % 2 == 0:
                flt = {"field": "chunk_index", "op": "<=", "value": rng.choice([0, 1])}
            else:
                flt = {"field": "doc_id", "op": "prefix",
                       "value": rng.choice(ids)[:5]}
        q = " ".join(vocab.draw(rng) for _ in range(terms))
        block.append({"query": q, "mode": mode,
                      "k": rng.choice([20, 50, 100]) if extra == "k" else 10,
                      "filter": flt, "rerank": extra == "rerank"})
    return block


def gen_search(rng, vocab, sz, out):
    ids = [doc_id(i) for i in range(sz.search_docs)]
    write_jsonl(os.path.join(out, "docs.jsonl"),
                [{"doc_id": d, "text": doc_text(rng, vocab)} for d in ids])
    reqs, seen, repeats = [], set(), 0
    while len(reqs) < sz.search_requests:
        for r in gen_block(rng, vocab, ids, len(reqs) // len(BLOCK)):
            key = json.dumps(r, sort_keys=True)
            repeats += key in seen
            seen.add(key)
            r["id"] = len(reqs)
            r["check"] = r["id"] % len(BLOCK) in CHECKED
            reqs.append(r)
    write_jsonl(os.path.join(out, "requests.jsonl"), reqs)
    warm = []
    while len(warm) < sz.warm_requests:
        warm += gen_block(rng, vocab, ids, len(warm) // len(BLOCK))
    warm = warm[:sz.warm_requests]
    for i, r in enumerate(warm):
        r["id"], r["check"] = i, False
    write_jsonl(os.path.join(out, "warm_requests.jsonl"), warm)
    n = len(reqs)
    return {
        "docs": len(ids),
        "requests": n,
        "block_size": len(BLOCK),
        "share_hybrid": sum(r["mode"] == "hybrid" for r in reqs) / n,
        "share_dense": sum(r["mode"] == "dense" for r in reqs) / n,
        "share_sparse": sum(r["mode"] == "sparse" for r in reqs) / n,
        "share_k_over_10": sum(r["k"] > 10 for r in reqs) / n,
        "share_filtered": sum(r["filter"] is not None for r in reqs) / n,
        "share_rerank": sum(r["rerank"] for r in reqs) / n,
        "share_repeat": repeats / n,
        "share_checked": sum(r["check"] for r in reqs) / n,
    }


# ---------------------------------------------------------------- ingest

def gen_batches(rng, vocab, live, next_id, n_batches, batch_docs, tag):
    """Append batches over the live doc set `live` (id -> text). Each batch
    is half new docs, 30% updated docs and 20% unchanged re-sent docs; one
    new doc carries a probe term no other doc has."""
    batches = []
    for b in range(n_batches):
        n_new = batch_docs // 2
        n_upd = batch_docs * 3 // 10
        n_same = batch_docs - n_new - n_upd
        old = rng.sample(sorted(live), n_upd + n_same)
        rows = []
        probe_term = "zq%s%04dx" % (tag, b)
        probe_doc = doc_id(next_id)
        for j in range(n_new):
            d = doc_id(next_id)
            next_id += 1
            text = doc_text(rng, vocab)
            if j == 0:
                text = probe_term + " " + text
            live[d] = text
            rows.append({"doc_id": d, "text": text})
        for d in old[:n_upd]:
            live[d] = doc_text(rng, vocab)
            rows.append({"doc_id": d, "text": live[d]})
        for d in old[n_upd:]:
            rows.append({"doc_id": d, "text": live[d]})
        rng.shuffle(rows)
        for r in rows:
            r["uri"] = "file:///corpus/%s.txt" % r["doc_id"]
        batches.append((rows, {"received": len(rows), "new": n_new,
                               "updated": n_upd, "unchanged": n_same,
                               "probe_term": probe_term,
                               "probe_doc": probe_doc,
                               "expected_docs": len(live)}))
    return batches, next_id


def gen_ingest(rng, vocab, sz, out):
    live = {doc_id(i): doc_text(rng, vocab) for i in range(sz.ingest_docs)}
    write_jsonl(os.path.join(out, "docs.jsonl"),
                [{"doc_id": d, "text": t,
                  "uri": "file:///corpus/%s.txt" % d} for d, t in live.items()])
    batches, _ = gen_batches(rng, vocab, live, sz.ingest_docs,
                             sz.ingest_batches, sz.batch_docs, "b")
    truth = []
    for b, (rows, t) in enumerate(batches):
        write_jsonl(os.path.join(out, "batch-%04d.jsonl" % b), rows)
        truth.append(t)
    # the warm-up batch goes to a separate collection, so it never
    # changes the measured one
    warm_live = {doc_id(900000 + i): doc_text(rng, vocab)
                 for i in range(sz.batch_docs)}
    write_jsonl(os.path.join(out, "warm-docs.jsonl"),
                [{"doc_id": d, "text": t,
                  "uri": "file:///warm/%s.txt" % d} for d, t in warm_live.items()])
    [(rows, wt)], _ = gen_batches(rng, vocab, warm_live, 950000, 1,
                                  sz.batch_docs, "w")
    write_jsonl(os.path.join(out, "warm-batch.jsonl"), rows)
    received = sum(t["received"] for t in truth)
    return {
        "initial_docs": sz.ingest_docs,
        "batches": truth,
        "warm_batch": wt,
        "share_new": sum(t["new"] for t in truth) / received,
        "share_updated": sum(t["updated"] for t in truth) / received,
        "share_unchanged": sum(t["unchanged"] for t in truth) / received,
    }


# ---------------------------------------------------------------- curate

def gen_curate_corpus(rng, vocab, n_docs, evals):
    """A raw corpus with planted exact, near and semantic duplicates, docs
    that copy a span of an eval doc, and low-quality docs. Copies always
    get higher ids than their originals, so keep-the-lowest-id rules drop
    the copy. The planted sets are disjoint."""
    centers = [unit([rng.gauss(0, 1) for _ in range(DIM)]) for _ in range(24)]
    n_each = max(2, int(n_docs * 0.03))
    n_orig = n_docs - 5 * n_each
    docs = []
    for i in range(n_orig):
        c = rng.choice(centers)
        docs.append({"doc_id": doc_id(i), "text": doc_text(rng, vocab),
                     "vector": jitter(rng, c, 0.25)})
    pool = list(range(n_orig))
    rng.shuffle(pool)
    take = lambda: [pool.pop() for _ in range(n_each)]
    exact_src, near_src, sem_src, overlap_src, bad_src = (
        take(), take(), take(), take(), take())
    nxt = n_orig
    truth = {"exact_copies": [], "near_pairs": [], "near_jaccard": [],
             "semantic_pairs": [], "overlap_ids": [], "low_quality_ids": []}

    def add(text, vector):
        nonlocal nxt
        d = doc_id(nxt)
        nxt += 1
        docs.append({"doc_id": d, "text": text, "vector": vector})
        return d

    for s in exact_src:
        o = docs[s]
        truth["exact_copies"].append(add(o["text"], list(o["vector"])))
    for s in near_src:
        o = docs[s]
        words = o["text"].split(" ")
        plain = [j for j, w in enumerate(words) if w.isalpha()]
        for j in rng.sample(plain, max(1, len(words) // 80)):
            words[j] = vocab.draw(rng)
        text = " ".join(words)
        truth["near_pairs"].append([o["doc_id"], add(text, jitter(rng, o["vector"], 0.004))])
        truth["near_jaccard"].append(jaccard(o["text"], text))
    for s in sem_src:
        o = docs[s]
        truth["semantic_pairs"].append(
            [o["doc_id"], add(doc_text(rng, vocab), jitter(rng, o["vector"], 0.004))])
    for s in overlap_src:
        # a line that quotes 12 consecutive words of an eval doc
        ev = rng.choice(evals)["text"].replace("\n", " ").split(" ")
        a = rng.randrange(max(1, len(ev) - 12))
        quote = " ".join(w.strip(".") for w in ev[a:a + 12]) + "."
        o = docs[s]
        o["text"] = o["text"] + "\n" + quote
        truth["overlap_ids"].append(o["doc_id"])
    for n, s in enumerate(bad_src):
        o = docs[s]
        kind = n % 3
        if kind == 0:    # too short for the Gopher word-count rule
            o["text"] = sentence(rng, vocab, 12) + "\n" + sentence(rng, vocab, 10)
        elif kind == 1:  # code-like: the C4 curly-brace rule
            o["text"] = o["text"] + "\nfunction x() { return 1; }"
        else:            # placeholder text: the C4 lorem-ipsum rule
            o["text"] = "Lorem ipsum dolor sit amet, consectetur.\n" + o["text"]
        truth["low_quality_ids"].append(o["doc_id"])
    rng.shuffle(docs)
    return docs, truth


def gen_curate(rng, vocab, sz, out):
    evals = [{"eval_id": "e%04d" % i, "text": doc_text(rng, vocab)}
             for i in range(sz.eval_docs)]
    write_jsonl(os.path.join(out, "eval.jsonl"), evals)
    docs, truth = gen_curate_corpus(rng, vocab, sz.curate_docs, evals)
    write_jsonl(os.path.join(out, "corpus.jsonl"), docs)
    n = len(docs)
    truth.update({
        "docs": n,
        "share_exact_copy": len(truth["exact_copies"]) / n,
        "share_near_copy": len(truth["near_pairs"]) / n,
        "share_semantic_copy": len(truth["semantic_pairs"]) / n,
        "share_eval_overlap": len(truth["overlap_ids"]) / n,
        "share_low_quality": len(truth["low_quality_ids"]) / n,
        "min_near_jaccard": min(truth["near_jaccard"] or [1.0]),
    })
    return truth


GENERATORS = {"search": gen_search, "ingest": gen_ingest, "curate": gen_curate}


def generate(workload, seed, scale, out):
    """Write the inputs of `workload` for `seed` into `out`; return truth."""
    os.makedirs(out, exist_ok=True)
    rng = random.Random("graft-bench/%s/%d" % (workload, seed))
    sz = Sizes(scale)
    vocab = Vocab(rng, sz.vocab)
    truth = GENERATORS[workload](rng, vocab, sz, out)
    truth["seed"], truth["scale"] = seed, scale
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1)
    return truth
