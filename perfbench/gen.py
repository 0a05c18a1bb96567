"""Seeded input generators for the graft benchmark.

Each generator writes the files one workload reads (and nothing else the
program under test sees), plus `truth.json` with the answers the output
checks compare against and the measured properties of the input:

  events   bursty, time-ordered narrow events with quiet gaps (epoch_ingest)
  docs     documents with Zipf-distributed lengths, as page elements (http_avro_drain)
  corpus   a corpus with planted exact, near-duplicate and chain-shaped
           families, plus newcomer batches with planted duplicates (curate_corpus)

The same seed gives byte-identical files.

  python3 gen.py --workload curate_corpus --seed 7 --out DIR
"""
import argparse
import bisect
import decimal
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EN_STOPWORDS = ["the", "a", "of", "and", "is"]
DE_STOPWORDS = ["der", "die", "das", "und", "ist"]
# every stopword of every profile the language gate knows: the generated
# vocabulary must not contain any of them
ALL_STOPWORDS = set(EN_STOPWORDS + DE_STOPWORDS + ["el", "la", "de", "y", "es"])

# workload sizes (fixed; only the content depends on the seed)
EVENTS = dict(slots=14, gap_slots=3, rows=1200, min_rows=10, burstiness=0.8, step_ms=60_000)
# the warm-up events: quiet minutes and a crash too, fewer minutes
WARMUP_EVENTS = dict(EVENTS, slots=6, gap_slots=1, rows=500)
DOCS = dict(n=811, page_size=20, pages_per_trigger=1, zipf_a=1.7, word_scale=25, max_words=2500)
CORPUS = dict(unique=200, exact=(10, (2, 3)), star=(14, (2, 5)), chain=(6, (8, 12)),
              short_junk=8, german_junk=8, doc_words=(70, 110), chain_doc_words=90, chain_shift=6,
              pii_share=0.25, newcomer_batches=4, newcomer_batch=10, newcomer_dups=3)
# the warm-up corpus: every kind of family and document, fewer of each
WARMUP_CORPUS = dict(CORPUS, unique=50, exact=(3, (2, 3)), star=(4, (2, 5)), chain=(2, (8, 12)),
                     short_junk=2, german_junk=2, newcomer_batches=2)


def vocabulary(rng, size=6000):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        n = int(rng.integers(4, 10))
        w = "".join(rng.choice(letters, n))
        if w not in ALL_STOPWORDS:
            words.add(w)
    return np.array(sorted(words))


def words(rng, vocab, n, stopwords=EN_STOPWORDS, stop_share=0.25):
    out = vocab[rng.integers(0, len(vocab), n)].astype(object)
    stop = rng.random(n) < stop_share
    out[stop] = np.array(stopwords, dtype=object)[rng.integers(0, len(stopwords), int(stop.sum()))]
    return list(out)


def write_parquet(table, path, row_group_size=None):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"), row_group_size=row_group_size)


# --------------------------------------------------------------------------
# epoch_ingest
# --------------------------------------------------------------------------

def fold_windows(ts_ms, from_ms, step_ms):
    """The tumbling-window fold of `WindowedSource.tumbling`, run until the
    window start reaches the last event: returns one bool per epoch (True =
    the window held rows)."""
    last = ts_ms[-1]
    frm, to = from_ms, from_ms + step_ms
    epochs = []
    while frm < last:
        lo = bisect.bisect_right(ts_ms, frm)
        hi = bisect.bisect_right(ts_ms, to)
        if hi > lo:
            frm = ts_ms[hi - 1]
            to = frm + step_ms
            epochs.append(True)
        else:
            to += step_ms
            epochs.append(False)
    return epochs


def gen_events(seed, out, c=EVENTS):
    rng = np.random.default_rng([seed, 1])
    step = c["step_ms"]
    from_ms = 1_704_067_200_000  # 2024-01-01T00:00:00Z
    # quiet gaps: a fixed number of empty minutes at random places (never
    # the first or last); bursts: the fixed row total spread unevenly over
    # the active minutes
    quiet = set(rng.choice(np.arange(1, c["slots"] - 1), c["gap_slots"], replace=False).tolist())
    active = [s for s in range(c["slots"]) if s not in quiet]
    weights = rng.gamma(c["burstiness"], 1.0, len(active))
    per_slot = c["min_rows"] + rng.multinomial(c["rows"] - c["min_rows"] * len(active), weights / weights.sum())
    ts = []
    for s, n in zip(active, per_slot.tolist()):
        # each active minute's last event lands on the minute's end, so every
        # non-empty window closes on a minute boundary: one epoch per minute
        # (quiet minutes included), the same epoch count for every seed
        end = from_ms + (s + 1) * step
        ts.extend((end - rng.integers(0, step, n - 1)).tolist() + [end])
    ts.sort()
    n = len(ts)
    epochs = fold_windows(ts, from_ms, step)
    nonempty = [i for i, e in enumerate(epochs) if e]
    crash_epoch = nonempty[len(nonempty) // 2]
    ids = rng.permutation(n).astype(np.int64) + 1_000_000
    cents = rng.integers(1, 100_000, n)
    table = pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(np.array(ts, dtype="datetime64[ms]").astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(1, 5000, n), pa.int32()),
        "amount": pa.array([decimal.Decimal(int(x)).scaleb(-2) for x in cents], pa.decimal128(12, 2)),
        "kind": pa.array(np.array(["view", "click", "cart", "buy"])[rng.integers(0, 4, n)]),
    })
    write_parquet(table, os.path.join(out, "events.parquet"), row_group_size=2048)
    total = int(cents.sum())
    return {
        "rows": n, "distinct_ids": n,
        "amount_sum": f"{total // 100}.{total % 100:02d}",
        "from_ms": from_ms, "last_ms": ts[-1], "step_ms": step,
        "epochs": len(epochs), "empty_epochs": len(epochs) - len(nonempty),
        "crash_epoch": crash_epoch,
        "properties": {
            "rows": n, "epochs": len(epochs),
            "empty_window_share": (len(epochs) - len(nonempty)) / len(epochs),
            "rows_per_nonempty_window": n / len(nonempty),
        },
    }


# --------------------------------------------------------------------------
# http_avro_drain
# --------------------------------------------------------------------------

def gen_docs(seed, out):
    rng = np.random.default_rng([seed, 2])
    c = DOCS
    vocab = vocabulary(rng)
    # the same Zipf-distributed multiset of lengths for every seed (drawn
    # once from a fixed stream), in a seed-dependent order
    zipf = np.random.default_rng(0).zipf(c["zipf_a"], c["n"])
    lengths = rng.permutation(np.minimum(zipf * c["word_scale"], c["max_words"]))
    ids = rng.permutation(c["n"]).astype(np.int64) + 1
    elems, md5s = [], []
    for doc_id, n in zip(ids.tolist(), lengths.tolist()):
        text = " ".join(words(rng, vocab, int(n)))
        elems.append(json.dumps({"doc_id": doc_id, "text": text}, separators=(",", ":")))
        md5s.append(f"{doc_id}\t{hashlib.md5(text.encode()).hexdigest()}")
    with open(os.path.join(out, "docs.jsonl"), "w") as f:
        f.write("\n".join(elems) + "\n")
    with open(os.path.join(out, "docs_md5.tsv"), "w") as f:
        f.write("\n".join(md5s) + "\n")
    pages = -(-c["n"] // c["page_size"])
    assert c["n"] % c["page_size"] != 0, "the last page must be partial"
    wire = np.array([len(e.encode()) for e in elems])
    return {
        "docs": c["n"], "page_size": c["page_size"], "pages": pages,
        "pages_per_trigger": c["pages_per_trigger"],
        # the walk fetches every page once, then the readers do: rotate
        # half-way through the readers' pass
        "rotate_after": pages + pages // 2,
        "properties": {
            "docs": c["n"], "pages": pages,
            "mean_wire_bytes_per_row": float(wire.mean()),
            "p99_wire_bytes_per_row": float(np.percentile(wire, 99)),
            "mean_words": float(lengths.mean()),
            "max_words": int(lengths.max()),
        },
    }


# --------------------------------------------------------------------------
# curate_corpus
# --------------------------------------------------------------------------

def substitute(rng, vocab, toks, k):
    toks = list(toks)
    for p in rng.choice(len(toks), k, replace=False):
        toks[p] = str(vocab[rng.integers(0, len(vocab))])
    return toks


def cycle(bounds, i):
    """Family sizes run through [lo, hi] in turn: the same size histogram
    for every seed."""
    lo, hi = bounds
    return lo + i % (hi - lo + 1)


def pii(rng, vocab):
    kind = int(rng.integers(0, 3))
    w = str(vocab[rng.integers(0, len(vocab))])
    if kind == 0:
        return f"{w}{int(rng.integers(10, 99))}@example.com"
    if kind == 1:
        return f"{int(rng.integers(200, 999))}-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))}"
    return ".".join(str(int(x)) for x in rng.integers(1, 255, 4))


def build_corpus(rng, vocab, c):
    """Documents as (text, family) with family None for unique docs and
    "junk" for documents the gates must drop."""

    def doc():
        toks = words(rng, vocab, int(rng.integers(*c["doc_words"])))
        if rng.random() < c["pii_share"]:
            toks.insert(int(rng.integers(0, len(toks))), pii(rng, vocab))
        return toks

    docs = [(" ".join(doc()), None) for _ in range(c["unique"])]
    fam = 0
    sizes = []
    for _ in range(c["exact"][0]):
        text = " ".join(doc())
        k = cycle(c["exact"][1], fam)
        docs += [(text, fam)] * k
        sizes.append(k)
        fam += 1
    for _ in range(c["star"][0]):
        base = doc()
        k = cycle(c["star"][1], fam)
        docs.append((" ".join(base), fam))
        docs += [(" ".join(substitute(rng, vocab, base, int(rng.integers(1, 3)))), fam) for _ in range(k - 1)]
        sizes.append(k)
        fam += 1
    for _ in range(c["chain"][0]):
        # a window sliding along one long text: neighbours share most
        # shingles, the ends share none, so the family is one component
        # only through its chain of pairs
        k = cycle(c["chain"][1], fam)
        L, s = c["chain_doc_words"], c["chain_shift"]
        long = words(rng, vocab, L + (k - 1) * s)
        docs += [(" ".join(long[i * s:i * s + L]), fam) for i in range(k)]
        sizes.append(k)
        fam += 1
    docs += [(" ".join(words(rng, vocab, 3)), "junk") for _ in range(c["short_junk"])]
    docs += [(" ".join(words(rng, vocab, 60, DE_STOPWORDS, 0.3)), "junk") for _ in range(c["german_junk"])]
    return docs, sizes


def corpus_truth(docs, ids):
    survivors = set()
    family_min = {}
    for (text, fam), i in zip(docs, ids):
        if fam is None:
            survivors.add(i)
        elif fam != "junk":
            family_min[fam] = min(family_min.get(fam, i), i)
    return survivors | set(family_min.values())


def gen_corpus(seed, out, c=CORPUS):
    rng = np.random.default_rng([seed, 3])
    vocab = vocabulary(rng)
    docs, sizes = build_corpus(rng, vocab, c)
    n = len(docs)
    ids = (rng.permutation(n) + 1).astype(np.int64).tolist()
    survivors = corpus_truth(docs, ids)
    write_parquet(pa.table({"doc_id": pa.array(ids, pa.int64()),
                            "text": pa.array([t for t, _ in docs])}),
                  os.path.join(out, "corpus.parquet"))

    # newcomers: per batch, a few near-copies of distinct unique old
    # documents (the planted matches) and fresh documents
    unique_ids = [(i, t) for (t, f), i in zip(docs, ids) if f is None]
    pick = rng.permutation(len(unique_ids)).tolist()
    nb, bs = c["newcomer_batches"], c["newcomer_batch"]
    matches = []
    next_id = n + 1
    for b in range(nb):
        k = c["newcomer_dups"]
        ids_b, texts_b = [], []
        for j in range(bs):
            if j < k:
                old_id, old_text = unique_ids[pick.pop()]
                text = " ".join(substitute(rng, vocab, old_text.split(" "), 1))
                matches.append([next_id, old_id])
            else:
                text = " ".join(words(rng, vocab, int(rng.integers(*c["doc_words"]))))
            ids_b.append(next_id)
            texts_b.append(text)
            next_id += 1
        # one directory per batch, the way each day's arrivals land
        write_parquet(pa.table({"doc_id": pa.array(ids_b, pa.int64()), "text": pa.array(texts_b)}),
                      os.path.join(out, "newcomers", f"batch-{b}"))

    hist = {}
    for s in sizes:
        hist[str(s)] = hist.get(str(s), 0) + 1
    in_families = sum(sizes)
    return {
        "corpus_docs": n, "newcomer_docs": nb * bs, "newcomer_batches": nb,
        "survivors": sorted(survivors), "newcomer_matches": matches,
        "properties": {
            "corpus_docs": n, "families": len(sizes),
            "duplicate_share": (in_families - len(sizes)) / n,
            "junk_share": (c["short_junk"] + c["german_junk"]) / n,
            "family_size_histogram": dict(sorted(hist.items(), key=lambda kv: int(kv[0]))),
            "chain_families": c["chain"][0],
            "newcomer_docs": nb * bs, "planted_newcomer_matches": len(matches),
        },
    }


GENERATORS = {"epoch_ingest": gen_events, "http_avro_drain": gen_docs, "curate_corpus": gen_corpus}
# workloads whose warm-up pass reads inputs of its own (http_avro_drain warms
# up on the first pages of its own server)
WARMUP = {"epoch_ingest": (gen_events, WARMUP_EVENTS), "curate_corpus": (gen_corpus, WARMUP_CORPUS)}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    truth = GENERATORS[workload](seed, out)
    return finish(truth, seed, out)


def generate_warmup(workload, seed, out):
    """The input of the workload's warm-up pass, from another seed than the
    measured input's, so the measured rounds find no data of their own
    cached: fewer events or documents, of the same kinds."""
    os.makedirs(out, exist_ok=True)
    warm_seed = seed + 1_000_003
    make, sizes = WARMUP[workload]
    return finish(make(warm_seed, out, sizes), warm_seed, out)


def finish(truth, seed, out):
    truth["seed"] = seed
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)["properties"]))


if __name__ == "__main__":
    main()
