"""Seeded job-posting corpus for the `pipeline` workload.

Rows are rendered from distinct logical postings (lists of lower-case
words) with dirt the pipeline's stage 1 must remove: HTML tags, random
upper/title case, runs of spaces, tabs and newlines. On top of the base
postings the generator plants
  * near-duplicates: a copy of a base posting with one or two words
    substituted, and
  * exact duplicates: another dirty rendering of a posting already in
    the corpus, which normalises to the same text.
doc_ids are a random permutation, so keep-first dedup has to pick the
lowest id, not the first-generated row.

Ground truth (truth.txt): `survivors <n>`, the number of distinct
normalised texts, and one `pair <id1> <id2>` line per planted
near-duplicate pair, both ids the keep-first survivors of their texts.
"""
import os
import re

import numpy as np

from common import draw_words, substitute, vocabulary, write_parquet, zipf_weights

HEAD = ["we", "are", "hiring", "a"]
SECTIONS = ["responsibilities", "requirements", "benefits"]
TAIL = ["apply", "now"]
TAGS = ["<p>", "</p>", "<br/>", "<li>", "</li>", "<ul>", "</ul>", "<b>",
        "</b>", '<a href="#apply">', "</a>", "<h2 class=\"role\">", "</h2>"]
SEPS = [" ", " ", " ", "  ", "\t", "\n", " \n  ", "\r\n"]


def logical_posting(rng, vocab, weights):
    words = HEAD + draw_words(rng, vocab, weights, int(rng.integers(2, 4)))
    words += ["at"] + draw_words(rng, vocab, weights, 1)
    for sec in SECTIONS:
        words += [sec] + draw_words(rng, vocab, weights, int(rng.integers(18, 30)))
    return words + TAIL


def render(rng, words):
    """A dirty rendering whose normalised form is ' '.join(words)."""
    out = []
    for w in words:
        r = rng.random()
        w = w.upper() if r < 0.08 else w.capitalize() if r < 0.2 else w
        if rng.random() < 0.12:
            tag = TAGS[int(rng.integers(len(TAGS)))]
            w = tag + w if rng.random() < 0.5 else w + tag
        out.append(w)
        out.append(SEPS[int(rng.integers(len(SEPS)))])
    lead = SEPS[int(rng.integers(len(SEPS)))] + TAGS[int(rng.integers(len(TAGS)))]
    return lead + "".join(out)


def normalise(text):
    """Stage 1's normalisation: tags to spaces, whitespace collapsed, trim, lower."""
    return re.sub(r"\s+", " ", re.sub(r"<[^>]*>", " ", text)).strip().lower()


def generate(out_dir, seed, n_docs):
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, 4000)
    weights = zipf_weights(len(vocab))
    n_base, n_near = int(n_docs * 0.75), int(n_docs * 0.10)
    n_exact = n_docs - n_base - n_near
    logical = [logical_posting(rng, vocab, weights) for _ in range(n_base)]
    bases = rng.choice(n_base, size=n_near, replace=False)
    planted = []
    for b in bases:
        planted.append((int(b), len(logical)))
        logical.append(substitute(rng, logical[b], vocab, int(rng.integers(1, 3))))
    rows = list(range(len(logical))) + [int(i) for i in rng.integers(0, len(logical), n_exact)]
    ids = rng.permutation(len(rows))
    texts = [render(rng, logical[li]) for li in rows]

    first = {}
    for li, doc_id, text in zip(rows, ids, texts):
        norm = normalise(text)
        assert norm == " ".join(logical[li]), "rendering must normalise to its posting"
        first[li] = min(first.get(li, doc_id), doc_id)
    assert len({" ".join(w) for w in logical}) == len(logical), "postings must be distinct"

    write_parquet(os.path.join(out_dir, "documents.parquet"),
                  {"doc_id": ids.astype(np.int64), "text": texts})
    pairs = sorted(tuple(sorted((int(first[a]), int(first[b])))) for a, b in planted)
    with open(os.path.join(out_dir, "truth.txt"), "w") as f:
        f.write(f"survivors {len(logical)}\n")
        f.writelines(f"pair {a} {b}\n" for a, b in pairs)

