"""Seeded corpus and micro-batches for the `ingest_stream` workload.

Every batch mixes novel documents with four planted duplicate classes:
exact and near copies of corpus documents, duplicates within the batch
(exact and near, always with a larger doc id than the original, since
the smallest id wins), and exact and near copies of survivors of
earlier batches. A near copy is the original with one extra token
appended: a different content hash, but a 3-shingle Jaccard similarity
of about 0.99, far above the engine's 0.3 threshold.

The expected survivor set comes from `replay`, a plain sequential
model of the policy `Dedup.incremental` documents, written without the
engine: a batch document is dropped when its text equals, or it is an
LSH candidate with 3-shingle Jaccard >= 0.3 of, a corpus document, a
document earlier in its batch (smaller doc id), or a survivor of an
earlier batch. LSH candidates share one of four bands of a 16-value
MinHash signature, computed with the constants the engine and its
DuckDB oracle document (`MinHashKernel`). So the expected set is the
novel documents plus every planted near copy the engine's LSH does not
propose. Those misses are not rare: the 16 permutations are linear
(a*h + b mod p), so a near copy whose extra shingle hashes close to 0
or to p takes the minimum in many permutations at once, often in every
band. `generate` counts them (`lsh_missed`).
"""

import hashlib
import json
import os
import random

DOC_TOKENS = 100
# the workload's dedup parameters (IngestStream.scala)
NGRAM = 3
THRESHOLD = 0.3
# MinHashKernel: the Mersenne prime modulus and the 16 (a, b) pairs,
# banded 4 x 4 (Dedup.lshBuckets)
P = 2_147_483_647
PERMS = [(((i * 2654435761) % P) | 1, (i * 40503 * 65537) % P) for i in range(1, 17)]
ROWS_PER_BAND = 4


def _doc(rng, vocab):
    return " ".join(rng.choice(vocab) for _ in range(DOC_TOKENS))


def _near(rng, text, vocab):
    return text + " " + rng.choice(vocab)


def generate(out_dir, seed, corpus_docs, batches, batch_docs):
    """Write `corpus.jsonl`, `batches.jsonl` and `expected.txt` (the
    expected survivor doc ids) into `out_dir`; return the input sizes."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = [f"w{rng.getrandbits(40):x}" for _ in range(50_000)]
    corpus = [(1_000_000_000 + k, _doc(rng, vocab)) for k in range(corpus_docs)]
    with open(os.path.join(out_dir, "corpus.jsonl"), "w") as f:
        for doc_id, text in corpus:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    survivors = []
    planted = {"corpus_exact": 0, "corpus_near": 0, "batch_exact": 0,
               "batch_near": 0, "earlier_exact": 0, "earlier_near": 0}
    with open(os.path.join(out_dir, "batches.jsonl"), "w") as f:
        for b in range(batches):
            next_id = (b + 1) * 1_000_000
            novel, docs = [], []

            def emit(text):
                nonlocal next_id
                docs.append((next_id, text))
                next_id += 1
                return next_id - 1

            earlier = list(survivors)
            for _ in range(batch_docs):
                r = rng.random()
                if r < 0.10:
                    kind, text = "corpus_exact", rng.choice(corpus)[1]
                elif r < 0.20:
                    kind, text = "corpus_near", _near(rng, rng.choice(corpus)[1], vocab)
                elif r < 0.25 and novel:
                    kind, text = "batch_exact", rng.choice(novel)[1]
                elif r < 0.30 and novel:
                    kind, text = "batch_near", _near(rng, rng.choice(novel)[1], vocab)
                elif r < 0.35 and earlier:
                    kind, text = "earlier_exact", rng.choice(earlier)[1]
                elif r < 0.40 and earlier:
                    kind, text = "earlier_near", _near(rng, rng.choice(earlier)[1], vocab)
                else:
                    kind, text = "novel", _doc(rng, vocab)
                doc_id = emit(text)
                if kind == "novel":
                    novel.append((doc_id, text))
                else:
                    planted[kind] += 1
            survivors.extend(novel)
            for doc_id, text in docs:
                f.write(json.dumps({"batch": b, "doc_id": doc_id, "text": text}) + "\n")
    want = replay(out_dir)
    with open(os.path.join(out_dir, "expected.txt"), "w") as f:
        f.write("\n".join(str(d) for d in want))
    return {"corpus_docs": corpus_docs, "batches": batches, "batch_docs": batch_docs,
            "expected_survivors": len(want), "novel": len(survivors),
            "lsh_missed": len(want) - len(survivors), **planted}


def _shingles(text):
    toks = text.split(" ")
    return {" ".join(toks[w:w + NGRAM]) for w in range(len(toks) - NGRAM + 1)}


def _bands(shingles):
    """The document's (band, 4 signature values) LSH keys."""
    hs = [int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "big") % P
          for s in shingles]
    sig = [min((h * a + b) % P for h in hs) for a, b in PERMS]
    return {(k, tuple(sig[k * ROWS_PER_BAND:(k + 1) * ROWS_PER_BAND]))
            for k in range(len(sig) // ROWS_PER_BAND)}


class _Scope:
    """Documents a batch document is checked against."""

    def __init__(self):
        self.texts, self.by_band = set(), {}

    def add(self, text, shingles, bands):
        self.texts.add(text)
        for key in bands:
            self.by_band.setdefault(key, []).append(shingles)

    def holds_duplicate(self, text, shingles, bands):
        if text in self.texts:
            return True
        for key in bands:
            for other in self.by_band.get(key, ()):
                if len(shingles & other) / len(shingles | other) >= THRESHOLD:
                    return True
        return False


def replay(out_dir):
    """The doc ids that survive the dedup policy, sorted; see the module
    docstring."""
    settled = _Scope()  # the corpus and every earlier batch's survivors
    with open(os.path.join(out_dir, "corpus.jsonl")) as f:
        for line in f:
            text = json.loads(line)["text"]
            sh = _shingles(text)
            settled.add(text, sh, _bands(sh))
    batches = {}
    with open(os.path.join(out_dir, "batches.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            batches.setdefault(r["batch"], []).append((r["doc_id"], r["text"]))
    kept = []
    for b in sorted(batches):
        earlier = _Scope()  # this batch's documents with smaller ids
        accepted = []
        for doc_id, text in sorted(batches[b]):
            sh = _shingles(text)
            bands = _bands(sh)
            if not (settled.holds_duplicate(text, sh, bands)
                    or earlier.holds_duplicate(text, sh, bands)):
                accepted.append((doc_id, text, sh, bands))
            earlier.add(text, sh, bands)
        for doc_id, text, sh, bands in accepted:
            settled.add(text, sh, bands)
            kept.append(doc_id)
    return sorted(kept)


def expected(out_dir):
    with open(os.path.join(out_dir, "expected.txt")) as f:
        return [int(x) for x in f.read().split()]
