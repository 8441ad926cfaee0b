"""Seeded Gutenberg-like corpus for the mr_corpus workload.

One call writes `files/pg-NN.txt` (text files of varied size drawn from a
Zipf vocabulary, with punctuation, line breaks and capitalised sentence
starts) and the exact answers the MapReduce apps must produce:

  expected/wc.txt     `word count` per distinct word
  expected/index.txt  `word n doc1,doc2,...` per distinct word (docs sorted)

Deterministic in the seed: the same seed gives byte-identical files.
"""
import os
import shutil

import numpy as np

N_FILES = 64
TOTAL_BYTES = 8 * 1024 * 1024
VOCAB = 40_000
ZIPF_S = 1.07
# separators after each word: mostly spaces, some commas, sentence ends
# and line breaks; a word after ". " or a line break is capitalised
SEPS = np.array([" ", ", ", ". ", "\n"])
SEP_P = np.array([0.84, 0.06, 0.05, 0.05])
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
LETTER_P = np.array([8.2, 1.5, 2.8, 4.3, 12.7, 2.2, 2.0, 6.1, 7.0, 0.2, 0.8, 4.0, 2.4,
                     6.7, 7.5, 1.9, 0.1, 6.0, 6.3, 9.1, 2.8, 1.0, 2.4, 0.2, 2.0, 0.1])
LETTER_P = LETTER_P / LETTER_P.sum()


def _vocab(rng):
    words = {}
    while len(words) < VOCAB:
        n = VOCAB - len(words)
        lens = np.clip(rng.poisson(5.0, size=n) + 2, 2, 14)
        chars = rng.choice(LETTERS, size=(n, 14), p=LETTER_P)
        for row, k in zip(chars, lens):
            words.setdefault("".join(row[:k]), None)
    return np.array(list(words))


def generate(dest, seed):
    """Writes the corpus for `seed` into `dest` (replaced if present)."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    caps = np.char.capitalize(vocab)
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    p /= p.sum()
    avg_token = float((np.char.str_len(vocab) * p).sum()) + 1.3
    sizes = rng.lognormal(0.0, 0.6, size=N_FILES)
    tokens = np.maximum(200, (sizes / sizes.sum() * TOTAL_BYTES / avg_token).astype(np.int64))

    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(f"{tmp}/files")
    os.makedirs(f"{tmp}/expected")
    counts = np.zeros(2 * VOCAB, dtype=np.int64)
    postings = []  # per file: the distinct keys it holds
    names = [f"pg-{i:02d}.txt" for i in range(N_FILES)]
    for name, n in zip(names, tokens):
        ids = rng.choice(VOCAB, size=n, p=p)
        sep = rng.choice(len(SEPS), size=n, p=SEP_P)
        cap = np.empty(n, dtype=bool)
        cap[0] = True
        cap[1:] = sep[:-1] >= 2
        keys = ids + VOCAB * cap
        counts += np.bincount(keys, minlength=2 * VOCAB)
        postings.append(np.unique(keys))
        words = np.where(cap, caps[ids], vocab[ids])
        text = "".join(w + s for w, s in zip(words.tolist(), SEPS[sep].tolist()))
        with open(f"{tmp}/files/{name}", "w", encoding="utf-8") as f:
            f.write(text)

    key_words = np.concatenate([vocab, caps])
    with open(f"{tmp}/expected/wc.txt", "w", encoding="utf-8") as f:
        for k in np.nonzero(counts)[0]:
            f.write(f"{key_words[k]} {counts[k]}\n")
    docs = [[] for _ in range(2 * VOCAB)]
    for fi, ks in enumerate(postings):
        for k in ks.tolist():
            docs[k].append(names[fi])
    with open(f"{tmp}/expected/index.txt", "w", encoding="utf-8") as f:
        for k in np.nonzero(counts)[0]:
            d = docs[k]
            f.write(f"{key_words[k]} {len(d)} {','.join(d)}\n")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def ensure(cache_root, seed, keep=4):
    """The corpus directory for `seed`, generated on first use. At most
    `keep` corpora stay cached; the least recently used go first."""
    tag = f"f{N_FILES}-b{TOTAL_BYTES}-v{VOCAB}-s{seed}"
    dest = os.path.join(cache_root, tag)
    if not os.path.isdir(dest):
        os.makedirs(cache_root, exist_ok=True)
        generate(dest, seed)
    os.utime(dest)
    cached = sorted((os.path.join(cache_root, d) for d in os.listdir(cache_root)
                     if not d.endswith(".tmp")), key=os.path.getmtime)
    for old in cached[:-keep]:
        shutil.rmtree(old, ignore_errors=True)
    return dest
