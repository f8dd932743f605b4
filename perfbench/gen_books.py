#!/usr/bin/env python3
"""Seeded book corpus for the `books_lda` workload.

The shape follows the reference's English corpus (51 Gutenberg books,
29 MB, vocabulary 39,380): tens of long documents over a Zipfian
vocabulary of well over 10k terms, scaled down in bytes so that one
EM + online LDA pass fits a benchmark run.  Each book leans towards one
of a few latent themes, so LDA has structure to find. Book lengths
vary with the seed; the corpus's total size does not.

The same seed gives a byte-identical corpus.

Usage: python3 perfbench/gen_books.py OUTDIR SEED
Writes OUTDIR/books/*.txt, OUTDIR/stopWords_EN.txt and
OUTDIR/manifest.json (docs, bytes, vocab, seed).
"""
import json
import os
import sys

import numpy as np

DOCS = 24
MEAN_BYTES = 25_000      # per book; lognormal around this
VOCAB = 32_000           # generated word types
THEMES = 5
THEME_WORDS = 1_500      # per-theme favoured words
THEME_SHARE = 0.35       # share of a book's content words drawn from its theme
ZIPF_S = 1.07

# the reference's stopword-file format: one line of comma-joined words
STOPWORDS = (
    "the,and,that,with,which,there,their,about,would,these,other,"
    "could,after,where,those,being,every,under,while,whose,since,"
    "might,shall,though,because,before,through,should,again,against")
SYLLABLES = [c + v for c in "bcdfghklmnprstvwz" for v in "aeiou"] + \
            ["ar", "en", "or", "al", "um", "is", "on", "el", "an", "ir"]


def vocabulary(rng):
    """VOCAB distinct lower-case pseudo-words of 5..12 letters."""
    seen, words = set(), []
    syl = np.array(SYLLABLES)
    while len(words) < VOCAB:
        n = rng.randint(3, 6)
        w = "".join(syl[rng.randint(0, len(syl), n)])
        if 5 <= len(w) <= 12 and w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def zipf_probs(n):
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return p / p.sum()


def generate(out, seed):
    rng = np.random.RandomState(seed)
    words = vocabulary(rng)
    stops = np.array(STOPWORDS.split(","))
    p_global = zipf_probs(VOCAB)
    p_theme = zipf_probs(THEME_WORDS)
    themes = [rng.permutation(VOCAB)[:THEME_WORDS] for _ in range(THEMES)]
    books_dir = os.path.join(out, "books")
    os.makedirs(books_dir, exist_ok=True)
    # book lengths vary, the corpus's total does not: every seed gives
    # the LDA fits the same amount of text
    sizes = np.maximum(8_000, rng.lognormal(np.log(MEAN_BYTES), 0.5, DOCS))
    sizes = (sizes * (DOCS * MEAN_BYTES / sizes.sum())).astype(int)
    used, total = set(), 0
    for b in range(DOCS):
        theme = themes[rng.randint(THEMES)]
        n_tok = int(sizes[b] / 7.5)
        from_theme = rng.random_sample(n_tok) < THEME_SHARE
        ids = np.where(from_theme,
                       theme[rng.choice(THEME_WORDS, n_tok, p=p_theme)],
                       rng.choice(VOCAB, n_tok, p=p_global))
        toks = words[ids]
        stop_at = rng.random_sample(n_tok) < 0.2
        toks = np.where(stop_at, stops[rng.randint(0, len(stops), n_tok)], toks)
        used.update(toks[~stop_at].tolist())
        sentences, i = [], 0
        while i < n_tok:
            n = rng.randint(6, 22)
            s = " ".join(toks[i:i + n])
            sentences.append(s[:1].upper() + s[1:] + ".")
            i += n
        lines = [" ".join(sentences[j:j + 4]) for j in range(0, len(sentences), 4)]
        data = ("\n".join(lines) + "\n").encode("utf-8")
        with open(os.path.join(books_dir, f"book_{b:03d}.txt"), "wb") as f:
            f.write(data)
        total += len(data)
    with open(os.path.join(out, "stopWords_EN.txt"), "w") as f:
        f.write(STOPWORDS + "\n")
    manifest = {"seed": seed, "docs": DOCS, "bytes": total, "vocab": len(used)}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]))))
