"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. Each one also writes the exact tally the program's output is
checked against, so no check depends on re-running the program.

  mr_skewed    token corpus, words drawn Zipf(s=1.0) from a seeded
               100k-word vocabulary; tally = count per word.
  mr_unique    `key|value` token corpus, 64 keys, values mostly distinct;
               tally = count per value (WordCount counts the value).
  index_churn  rounds of (upsert, delete) batches against the IVF index
               over the sf tables' `embeddings`; upserted vectors are
               perturbed copies of live ones.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 100_000
UNIQUE_KEYS = 64
CHURN_ROUNDS = 8
CHURN_UPSERT = 200
CHURN_DELETE = 50


def _write_tally(out_dir, words, counts):
    with open(os.path.join(out_dir, "tally.tsv"), "w") as f:
        for w, c in zip(words, counts):
            f.write(f"{w}\t{c}\n")


def _vocabulary(rng, n):
    """n distinct lowercase words of 3..10 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen = set()
    words = []
    while len(words) < n:
        lens = rng.integers(3, 11, size=n)
        chars = rng.integers(0, 26, size=(n, 10))
        for ln, row in zip(lens, chars):
            w = "".join(letters[row[:ln]])
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def mr_skewed(seed, out_dir, target_bytes):
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, VOCAB)
    lens = np.array([len(w) + 1 for w in vocab], dtype=np.float64)
    p = 1.0 / np.arange(1, VOCAB + 1)
    p /= p.sum()
    n = int(target_bytes / float((p * lens).sum()))
    idx = rng.choice(VOCAB, size=n, p=p)
    with open(os.path.join(out_dir, "corpus.txt"), "w") as f:
        f.write(" ".join([vocab[i] for i in idx.tolist()]))
    counts = np.bincount(idx, minlength=VOCAB)
    live = np.nonzero(counts)[0]
    _write_tally(out_dir, [vocab[i] for i in live], counts[live].tolist())
    return {"tokens": n, "distinct": int(live.size)}


def mr_unique(seed, out_dir, target_bytes):
    rng = np.random.default_rng(seed)
    n = int(target_bytes / 16)
    keys = rng.integers(0, UNIQUE_KEYS, size=n)
    # a value space 16x the token count leaves ~3% of values repeated
    vals = rng.integers(0, 16 * n, size=n)
    toks = [f"k{k}|v{v}" for k, v in zip(keys.tolist(), vals.tolist())]
    with open(os.path.join(out_dir, "corpus.txt"), "w") as f:
        f.write(" ".join(toks))
    uniq, counts = np.unique(vals, return_counts=True)
    _write_tally(out_dir, [f"v{v}" for v in uniq.tolist()], counts.tolist())
    return {"tokens": n, "distinct": int(uniq.size)}


def index_churn(seed, out_dir, sf_dir):
    rng = np.random.default_rng(seed)
    embs = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                         columns=["vec_id", "embedding"]).to_pydict()
    vecs = {i: np.asarray(e, dtype=np.float32)
            for i, e in zip(embs["vec_id"], embs["embedding"])}
    live = set(vecs)
    next_id = max(live) + 1
    half = CHURN_UPSERT // 2
    for r in range(CHURN_ROUNDS):
        rd = os.path.join(out_dir, f"round{r}")
        os.makedirs(rd)
        # half the batch replaces live ids with a perturbed copy of
        # themselves, half adds new ids copying a perturbed live vector
        keep = sorted(rng.choice(sorted(live), size=half, replace=False).tolist())
        new = list(range(next_id, next_id + half))
        next_id += half
        rows = []
        for vid, base in zip(keep + new, keep + rng.choice(keep, size=half).tolist()):
            v = vecs[base] + rng.normal(0, 0.02, size=vecs[base].shape)
            vecs[vid] = (v / np.linalg.norm(v)).astype(np.float32)
            rows.append(vecs[vid].tolist())
        pq.write_table(
            pa.table({"vec_id": pa.array(keep + new, pa.int64()),
                      "embedding": pa.array(rows, pa.list_(pa.float32()))}),
            os.path.join(rd, "ivf_upsert.parquet"))
        live.update(new)
        gone = sorted(rng.choice(sorted(live), size=CHURN_DELETE,
                                 replace=False).tolist())
        pq.write_table(pa.table({"vec_id": pa.array(gone, pa.int64())}),
                       os.path.join(rd, "ivf_delete.parquet"))
        live.difference_update(gone)
    return {"rounds": CHURN_ROUNDS, "upsert_rows": CHURN_UPSERT,
            "delete_rows": CHURN_DELETE}
