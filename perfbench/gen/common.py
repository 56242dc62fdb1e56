"""Shared pieces of the seeded corpus generators: a synthetic vocabulary,
Zipf word draws and the parquet writer. Only ASCII letters and ASCII
whitespace are produced, so Python's and Java's regex classes agree on
every character the program's normalisation touches."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]


def vocabulary(rng, size):
    """`size` distinct lower-case pseudo-words of two to four syllables."""
    words, seen = [], set()
    while len(words) < size:
        n = int(rng.integers(2, 5))
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_weights(size, s=1.05):
    w = 1.0 / np.arange(1, size + 1) ** s
    return w / w.sum()


def draw_words(rng, vocab, weights, n):
    return [vocab[i] for i in rng.choice(len(vocab), size=n, p=weights)]


def substitute(rng, words, vocab, k):
    """Copy of `words` with `k` distinct positions replaced by other words."""
    out = list(words)
    for pos in rng.choice(len(out), size=k, replace=False):
        new = out[pos]
        while new == out[pos]:
            new = vocab[int(rng.integers(len(vocab)))]
        out[pos] = new
    return out


def write_parquet(path, columns):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path)
