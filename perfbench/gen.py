"""Seeded input generators for the benchmark.

Everything the engine receives is made here from the workload seed: the
serving corpus (documents + embeddings), the store_churn request stream and
write cycles, and the corpus_pipeline shards. The same seed gives
byte-identical files (`python3 perfbench/gen.py --check` proves it).

Text is synthetic in the shape of the engine's own test corpora: a bag of
topic words plus the stopwords and per-language marker words the cleaning
operators score on, 8-80 words per document.
"""
import argparse
import hashlib
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_DOCS = 2000
N_VECS = 2000
N_LABELS = 10
N_TOPICS = 20
LANGS = [("en", 0.41), ("fr", 0.15), ("es", 0.15), ("zh", 0.15), ("de", 0.14)]
# marker words per language, as scored by the engine's language id
MARKERS = {
    "en": ["the", "a", "fast", "slow", "small", "big"],
    "de": ["der", "die", "das", "und", "nicht"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
    "zh": ["shi", "bu", "wo", "ni", "hao"],
}
STOPWORDS = ["and", "of", "to", "in", "is", "it"]

# store_churn: each cycle appends 40 fresh and 10 updated docs, reads 3
# text RAG (one the probe), 2 exact kNN and 1 IVF, and deletes 10 docs; a
# fifth of the RAG reads are lang-filtered, a third of the kNN
# label-filtered; vector query ids are Zipf(ZIPF_S) over the embeddings
STRATEGIES = ["cosine", "inner", "euclidean"]
RAG_FILTER_SHARE = 0.2
KNN_FILTER_SHARE = 1 / 3
ZIPF_S = 1.0
CHURN_FRESH = 40
CHURN_UPDATES = 10
CHURN_DELETES = 10
N_CYCLES = 60              # more than any run consumes
CHURN_ID_BASE = 1 << 20    # ingest doc ids sit above the serving corpus ids

# corpus_pipeline shard shape
SHARD_DOCS = 1500
WARMUP_SHARD_DOCS = 100    # shard 0 only warms the JVM up
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
NEAR_DUP_EVERY = 20        # near-duplicates replace 1 token in 20
N_SHARDS = 3               # the warm-up shard and two timed ones


def _vocab():
    """A fixed 600-word vocabulary from consonant-vowel syllables."""
    cons = "bcdfghjklmnprstvwz"
    vows = "aeiou"
    syl = [c + v for c in cons for v in vows]
    r = random.Random("vocab")
    words = set()
    while len(words) < 600:
        w = "".join(r.choice(syl) for _ in range(r.randint(2, 4)))
        if all(w not in m for m in MARKERS.values()) and w not in STOPWORDS:
            words.add(w)
    return sorted(words)


VOCAB = _vocab()


def _rng(seed, stream):
    """An independent, reproducible stream per (seed, purpose)."""
    return random.Random(f"{seed}/{stream}")


def _zipf_sampler(rng, n):
    """Zipf(ZIPF_S) ranks over a seeded permutation of 0..n-1."""
    ids = list(range(n))
    rng.shuffle(ids)
    cum, acc = [], 0.0
    for r in range(1, n + 1):
        acc += 1.0 / r ** ZIPF_S
        cum.append(acc)
    return lambda: rng.choices(ids, cum_weights=cum)[0]


def _topic_words(t):
    r = random.Random(f"topic/{t}")
    return r.sample(VOCAB, 120)


TOPICS = [_topic_words(t) for t in range(N_TOPICS)]


def make_text(rng, lang, topic, n_words):
    words = []
    tw = TOPICS[topic]
    for _ in range(n_words):
        u = rng.random()
        if u < 0.15:
            words.append(rng.choice(MARKERS[lang]))
        elif u < 0.22:
            words.append(rng.choice(STOPWORDS))
        elif u < 0.85:
            # half the topic words Zipf-like, half uniform over the topic
            if rng.random() < 0.5:
                words.append(tw[min(int(rng.paretovariate(1.0)) - 1, len(tw) - 1)])
            else:
                words.append(rng.choice(tw))
        else:
            words.append(rng.choice(VOCAB))
    return " ".join(words)


def _pick_lang(rng):
    return rng.choices([l for l, _ in LANGS], weights=[w for _, w in LANGS])[0]


def make_docs(rng, n):
    rows = []
    for i in range(n):
        lang = _pick_lang(rng)
        topic = rng.randrange(N_TOPICS)
        text = make_text(rng, lang, topic, rng.randint(8, 80))
        rows.append((i, text, lang, f"src{topic}"))
    return rows


def make_embeddings(rng):
    centers = []
    for _ in range(N_LABELS):
        c = [rng.gauss(0, 1) for _ in range(DIM)]
        centers.append(c)
    rows = []
    for i in range(N_VECS):
        lab = rng.randrange(N_LABELS)
        v = [c + rng.gauss(0, 0.9) for c in centers[lab]]
        norm = sum(x * x for x in v) ** 0.5
        rows.append((i, [x / norm for x in v], lab))
    return rows


def write_docs(path, rows):
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    }), path)


def write_embeddings(path, rows):
    pq.write_table(pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        "label": pa.array([r[2] for r in rows], pa.int32()),
    }), path)


def _churn_text(rng, lang, tag):
    """A single-chunk ingest text led by a token unique to it."""
    words = [tag] + make_text(rng, lang, rng.randrange(N_TOPICS), 12).split(" ")
    while len(" ".join(words)) > 110:
        words.pop()
    return " ".join(words)


def _rag_read(rng, docs):
    """A 4-12-word window of a serving doc, lang-filtered one time in 5."""
    d = docs[rng.randrange(len(docs))]
    words = d[1].split(" ")
    n = min(rng.randint(4, 12), len(words))
    at = rng.randrange(len(words) - n + 1)
    flt = d[2] if rng.random() < RAG_FILTER_SHARE else "-"
    return f"rag\t{' '.join(words[at:at + n])}\t{flt}"


def _knn_read(rng, zipf):
    """Exact kNN by a Zipf-drawn vector id, label-filtered one time in 3."""
    flt = str(rng.randrange(N_LABELS)) if rng.random() < KNN_FILTER_SHARE else "-"
    return f"knn\t{zipf()}\t{rng.choice(STRATEGIES)}\t{flt}"


def gen_serving(seed, out):
    """Serving corpus and the store_churn cycles.

    churn.tsv has one line per cycle event; every cycle has the same shape:
      doc <cycle> <doc_id> <lang> <text>   (50 batch rows: fresh, then updates)
      probe <cycle> <doc_id>               (fresh doc the cycle must read back)
      read <cycle> rag <text> <lang or ->  (x2, in cycle order with the next)
      read <cycle> knn <vec id> <strategy> <label or ->   (x2)
      read <cycle> ivf <vec id>            (x1)
      delete <cycle> <doc_id>              (x10, earlier docs)
    """
    os.makedirs(out, exist_ok=True)
    docs = make_docs(_rng(seed, "docs"), N_DOCS)
    write_docs(os.path.join(out, "documents.parquet"), docs)
    write_embeddings(os.path.join(out, "embeddings.parquet"),
                     make_embeddings(_rng(seed, "emb")))

    # fresh docs are single-chunk (under the 120-char chunk window) and
    # carry a token unique to the doc, so a query with the doc's text must
    # rank the doc's own chunk first (read-your-writes)
    r = _rng(seed, "churn")
    zipf = _zipf_sampler(_rng(seed, "zipf"), N_VECS)
    live, next_id = [], CHURN_ID_BASE
    with open(os.path.join(out, "churn.tsv"), "w") as f:
        for c in range(N_CYCLES):
            fresh = []
            for _ in range(CHURN_FRESH):
                lang = _pick_lang(r)
                fresh.append((next_id, lang, _churn_text(r, lang, f"u{next_id:x}q")))
                next_id += 1
            upd = []
            for i in r.sample(live, min(CHURN_UPDATES, len(live))):
                lang = _pick_lang(r)
                upd.append((i, lang, _churn_text(r, lang, f"u{i:x}v{c}")))
            for (i, lang, text) in fresh + upd:
                f.write(f"doc\t{c}\t{i}\t{lang}\t{text}\n")
            f.write(f"probe\t{c}\t{fresh[r.randrange(len(fresh))][0]}\n")
            reads = [_knn_read(r, zipf), _rag_read(r, docs), _rag_read(r, docs),
                     _knn_read(r, zipf), f"ivf\t{zipf()}"]
            for line in reads:
                f.write(f"read\t{c}\t{line}\n")
            live.extend(i for (i, _, _) in fresh)
            gone = set(r.sample(live, CHURN_DELETES))
            for i in sorted(gone):
                f.write(f"delete\t{c}\t{i}\n")
            live = [i for i in live if i not in gone]


def gen_shards(seed, out):
    """corpus_pipeline shards, each a corpus directory of its own.

    Each shard: 80% fresh documents, then 10% verbatim copies and 10%
    near-duplicates (1 token in 20 replaced) of earlier documents, the
    copies at higher doc ids than their originals. shards.tsv lists the
    planted verbatim copies per shard: `<shard dir> <doc_id>`.
    """
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "shards.tsv"), "w") as f:
        for s in range(N_SHARDS):
            r = _rng(seed, f"shard{s}")
            n_docs = WARMUP_SHARD_DOCS if s == 0 else SHARD_DOCS
            n_exact = int(n_docs * EXACT_DUP_SHARE)
            n_near = int(n_docs * NEAR_DUP_SHARE)
            base = make_docs(r, n_docs - n_exact - n_near)
            rows = list(base)
            for _ in range(n_exact):
                d = base[r.randrange(len(base))]
                rows.append((len(rows), d[1], d[2], d[3]))
                f.write(f"shard-{s:02d}\t{len(rows) - 1}\n")
            for _ in range(n_near):
                d = base[r.randrange(len(base))]
                words = d[1].split(" ")
                for j in range(NEAR_DUP_EVERY - 1, len(words), NEAR_DUP_EVERY):
                    words[j] = r.choice(VOCAB)
                rows.append((len(rows), " ".join(words), d[2], d[3]))
            d = os.path.join(out, f"shard-{s:02d}")
            os.makedirs(d, exist_ok=True)
            write_docs(os.path.join(d, "documents.parquet"), rows)


def generate(workload, seed, out):
    if workload == "store_churn":
        gen_serving(seed, out)
    elif workload == "corpus_pipeline":
        gen_shards(seed, out)
    else:
        raise ValueError(f"unknown workload {workload}")


def tree_digest(root):
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def check_determinism(scratch):
    """Same seed → byte-identical trees; another seed → different ones."""
    import shutil
    ok = True
    for wl in ("store_churn", "corpus_pipeline"):
        digests = []
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(scratch, f"{wl}-{tag}")
            shutil.rmtree(d, ignore_errors=True)
            generate(wl, seed, d)
            digests.append(tree_digest(d))
            shutil.rmtree(d, ignore_errors=True)
        same, differs = digests[0] == digests[1], digests[0] != digests[2]
        print(f"generator determinism {wl}: same-seed identical={same} "
              f"other-seed differs={differs}")
        ok = ok and same and differs
    return ok


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--out")
    ap.add_argument("--check", metavar="SCRATCH_DIR")
    a = ap.parse_args()
    if a.check:
        sys.exit(0 if check_determinism(a.check) else 1)
    generate(a.workload, a.seed, a.out)
