"""Seeded text corpus for the wc_text workload.

Lines of space-separated tokens over a ~7.4k-word vocabulary drawn with a
Zipf-like rank distribution (the reference's demo run had 7,359 distinct
words). Tokens carry, at fixed rates, the noise the reference's tokenizer
normalizes away: capitalized and upper-case forms, leading or trailing
punctuation, an apostrophe inside the word, digit-only tokens and double
spaces. Every token except the digit-only ones normalizes back to its
vocabulary word, so the generator knows the exact word counts; it records
them, with the corpus bytes, line and distinct-word counts, in a JSON file
beside the corpus.

Run: python3 perfbench/corpus.py <out.txt> <bytes> <seed>
"""
import json
import sys

import numpy as np

VOCAB_SIZE = 7400
FORM_P = [0.80, 0.10, 0.02, 0.03, 0.02, 0.02, 0.01]  # see forms()
DIGIT_RATE = 0.02
DOUBLE_SPACE_RATE = 0.03
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(rng):
    """Distinct lower-case words; the word of frequency rank r has
    2 + floor(log2(r + 1) / 2) letters (4.96 on average over the running
    text), so frequent words are short and the bytes per token do not
    depend on the seed."""
    words, seen = [], set()
    for r in range(VOCAB_SIZE):
        n = 2 + int(np.log2(r + 1) / 2)
        while True:
            w = "".join(rng.choice(LETTERS, n))
            if w not in seen:
                break
        seen.add(w)
        words.append(w)
    return words


def forms(w):
    """Surface forms of one word; all normalize back to `w`."""
    k = max(1, len(w) // 2)
    return [w, w.capitalize(), w.upper(), w + ",", w + ".", "(" + w, w[:k] + "'" + w[k:]]


def generate(path, size, seed):
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng)
    p = 1.0 / (np.arange(VOCAB_SIZE) + 2.7)
    p /= p.sum()
    table = np.array([forms(w) for w in vocab], dtype=object)
    digits = np.array([str(d) for d in rng.integers(0, 100000, 1000)], dtype=object)

    # tokens, so that the corpus lands near `size` bytes
    n = int(size / (float(p @ [len(w) for w in vocab]) + 1.2))
    ids = rng.choice(VOCAB_SIZE, n, p=p)
    toks = table[ids, rng.choice(len(FORM_P), n, p=FORM_P)]
    is_digit = rng.random(n) < DIGIT_RATE
    toks[is_digit] = digits[rng.integers(0, len(digits), int(is_digit.sum()))]

    seps = np.full(n, " ", dtype=object)
    seps[rng.random(n) < DOUBLE_SPACE_RATE] = "  "
    line_ends = np.cumsum(rng.integers(2, 13, n // 2))
    line_ends = line_ends[line_ends <= n] - 1
    seps[line_ends] = "\n"
    seps[-1] = "\n"
    parts = np.empty(2 * n, dtype=object)
    parts[0::2] = toks
    parts[1::2] = seps
    data = "".join(parts.tolist()).encode("ascii")
    with open(path, "wb") as f:
        f.write(data)

    counts = np.bincount(ids[~is_digit], minlength=VOCAB_SIZE)
    meta = {
        "bytes": len(data),
        "lines": data.count(b"\n"),
        "distinct_words": int((counts > 0).sum()),
        "counts": {vocab[i]: int(c) for i, c in enumerate(counts) if c > 0},
    }
    with open(path + ".json", "w") as f:
        json.dump(meta, f)
    return meta


if __name__ == "__main__":
    m = generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
    print(json.dumps({k: v for k, v in m.items() if k != "counts"}))
