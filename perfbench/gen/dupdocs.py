"""Seeded web-text corpus for the `text_dedup` workload.

Random documents of 70-110 Zipf-drawn words, 30 % of them in planted
near-duplicate chains of 2-5 documents: each chain member is the
previous one with one or two words substituted, so neighbours in a
chain sit at 3-shingle Jaccard ~0.85-0.95 while chain ends may fall
below the 0.8 threshold and are joined only through the chain. doc_ids
are a random permutation.

Ground truth (truth.txt): one `chain <id> <id> ...` line per chain.
"""
import os

import numpy as np

from common import draw_words, substitute, vocabulary, write_parquet, zipf_weights


def generate(out_dir, seed, n_docs):
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, 6000)
    weights = zipf_weights(len(vocab), s=0.9)
    docs, chains = [], []
    chained_target = int(n_docs * 0.3)
    while sum(len(c) for c in chains) < chained_target:
        length = int(rng.integers(2, 6))
        words = draw_words(rng, vocab, weights, int(rng.integers(70, 111)))
        chain = []
        for _ in range(length):
            chain.append(len(docs))
            docs.append(words)
            words = substitute(rng, words, vocab, int(rng.integers(1, 3)))
        chains.append(chain)
    while len(docs) < n_docs:
        docs.append(draw_words(rng, vocab, weights, int(rng.integers(70, 111))))
    ids = rng.permutation(len(docs)).astype(np.int64)
    write_parquet(os.path.join(out_dir, "documents.parquet"),
                  {"doc_id": ids, "text": [" ".join(w) for w in docs]})
    with open(os.path.join(out_dir, "truth.txt"), "w") as f:
        f.writelines("chain " + " ".join(str(ids[i]) for i in c) + "\n" for c in chains)

