"""Seeded text corpus for the reference word-count job, with ground truth.

The corpus mimics the reference's Project Gutenberg input (29 files,
15.3 MB, BASELINE.md) in the properties the word-count pipeline's cost and
correctness depend on:

- word frequencies follow a two-regime Zipf law over a large base
  vocabulary, so the number of distinct words grows with corpus size as
  Heaps' law predicts and matches the reference's at its size;
- file sizes are Pareto-skewed (the reference has one 3.3 MB file among 29),
  with the same size profile for every seed;
- tokens are Capitalised or ALL-CAPS, wrapped in ASCII edge punctuation,
  in non-ASCII edge characters (curly quotes, dashes), and some tokens are
  pure punctuation that normalizes to nothing;
- some words carry interior non-ASCII letters or apostrophes, which the
  normalizer keeps;
- one file starts with a UTF-8 byte-order mark.

Every decoration is one the HEAD normalizer (``functions.text``, mode
``head``) strips exactly, so the ground truth is known by construction:
each kept token counts towards its base word. :func:`check_output` verifies
the ranked output file against it.
"""

from __future__ import annotations

import hashlib
import os
import re
from dataclasses import dataclass

import numpy as np

#: edge decorations; every one is ASCII punctuation or non-ASCII, so the
#: HEAD normalizer strips it (``^[\p{Punct}\P{ASCII}]+|[\p{Punct}\P{ASCII}]+\z``)
_PREFIXES = ["", '"', "(", "'", "“", "‘", "—", "_", "[", "«"]
_PREFIX_P = [0.90, 0.025, 0.01, 0.01, 0.02, 0.005, 0.01, 0.005, 0.005, 0.01]
_SUFFIXES = ["", ",", ".", ";", ":", "!", "?", '"', "”", "’", "),", ".”", "—", "...", "_", "»"]
_SUFFIX_P = [0.74, 0.09, 0.06, 0.015, 0.01, 0.01, 0.01, 0.01, 0.015, 0.005, 0.005, 0.01,
             0.005, 0.005, 0.0025, 0.0025]
#: whole tokens that normalize to the empty string (dropped, not counted)
_JUNK = ["—", "--", "...", "*", "&", "“", "”", "«»", "-", "§"]
_INTERIOR = ["'", "é", "ï", "ñ", "ö", "-", "’"]
_LETTERS = np.array(list("etaoinshrdlcumwfgypbvkjxqz"))
_LETTER_P = np.array([12.7, 9.1, 8.2, 7.5, 7.0, 6.7, 6.3, 6.1, 6.0, 4.3, 4.0, 2.8, 2.8, 2.4,
                      2.4, 2.2, 2.0, 2.0, 1.9, 1.5, 1.0, 0.8, 0.15, 0.15, 0.1, 0.07])
_UPPER = str.maketrans("abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ")

BOM = "﻿"
#: ranks of the core vocabulary (Zipf exponent 1); rarer ranks fall off as r^-2
_CORE = 5000


def _norm(weights) -> np.ndarray:
    w = np.asarray(weights, dtype=np.float64)
    return w / w.sum()


@dataclass(frozen=True)
class Truth:
    """What the ranked output must say, fixed when the corpus is made."""

    total_words: int
    unique_words: int
    digest: str  # sha256 of the sorted "word: count" lines, "\n"-joined


def lines_digest(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct base words by frequency rank: lowercase ASCII
    letters at both ends, a few with one interior apostrophe, hyphen or
    non-ASCII letter. Length grows with the log of the rank (frequent words
    are short, Zipf's law of abbreviation), which also keeps the corpus's
    byte size the same for every seed."""
    lengths = np.clip(np.round(2.0 + 0.7 * np.log(np.arange(1, size + 1))), 1, 16).astype(int)
    words: list[str | None] = [None] * size
    seen: set[str] = set()
    todo = np.arange(size)
    p = _norm(_LETTER_P)
    while len(todo):
        lens = lengths[todo]
        letters = "".join(rng.choice(_LETTERS, size=int(lens.sum()), p=p).tolist())
        interior = rng.random(len(todo)) < 0.03
        marks = rng.integers(0, len(_INTERIOR), len(todo))
        retry, pos = [], 0
        for i, k in enumerate(lens.tolist()):
            w = letters[pos:pos + k]
            pos += k
            if interior[i] and k >= 2:
                cut = 1 + int(marks[i]) % (k - 1)
                w = w[:cut] + _INTERIOR[marks[i]] + w[cut:]
            if w in seen:
                retry.append(todo[i])
            else:
                seen.add(w)
                words[todo[i]] = w
        todo = np.array(retry, dtype=np.int64)
    return words


def _pareto_sizes(rng: np.random.Generator, n_files: int, total: int) -> np.ndarray:
    """Token budget per file: the evenly spaced quantiles of Pareto(1.5),
    in a seeded order. Every seed gets the same size profile (the largest
    file ~20 % of the corpus, as the reference's 3.3 MB of 15.3 MB), so
    Spark's split packing does not change with the seed."""
    u = (np.arange(n_files) + 0.5) / n_files
    w = (1.0 - u) ** (-1.0 / 1.5)
    sizes = np.maximum(1, np.floor(w / w.sum() * total)).astype(np.int64)
    sizes[-1] += total - sizes.sum()
    return rng.permutation(sizes)


def generate(out_dir: str, seed: int, target_mb: float = 15.0, n_files: int = 29,
             vocab_size: int = 200_000) -> tuple[list[str], int, Truth]:
    """Write ``n_files`` text files (about ``target_mb`` MB in all) to
    ``out_dir``. Returns (paths, total bytes, ground truth)."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, vocab_size)
    # two-regime Zipf: exponent 1 over the core vocabulary, 2 in the tail.
    # At the reference's 2.66 M tokens it yields ~57.8 k distinct words
    # (the reference: 57,467); distinct words keep growing with size
    # (Heaps' law) instead of saturating
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    cdf = np.cumsum(np.where(ranks <= _CORE, 1.0 / ranks, _CORE / ranks**2))
    cdf /= cdf[-1]
    lower = np.array(vocab, dtype=object)
    capital = np.array([w[0].translate(_UPPER) + w[1:] for w in vocab], dtype=object)
    shout = np.array([w.translate(_UPPER) for w in vocab], dtype=object)
    prefixes = np.array(_PREFIXES, dtype=object)
    suffixes = np.array(_SUFFIXES, dtype=object)
    junk = np.array(_JUNK, dtype=object)

    n_tokens = int(target_mb * 1e6 / 6.7)  # ~6.7 bytes per token + separator
    sizes = _pareto_sizes(rng, n_files, n_tokens)
    counts = np.zeros(vocab_size, dtype=np.int64)
    os.makedirs(out_dir, exist_ok=True)
    paths, total_bytes = [], 0
    for f, n in enumerate(sizes):
        n = int(n)
        idx = np.minimum(np.searchsorted(cdf, rng.random(n)), vocab_size - 1)
        case = rng.random(n)
        tok = np.where(case < 0.10, capital[idx], lower[idx])
        tok = np.where(case > 0.995, shout[idx], tok)
        tok = prefixes[rng.choice(len(prefixes), n, p=_norm(_PREFIX_P))] + tok
        tok = tok + suffixes[rng.choice(len(suffixes), n, p=_norm(_SUFFIX_P))]
        is_junk = rng.random(n) < 0.01
        tok = np.where(is_junk, junk[rng.integers(0, len(junk), n)], tok)
        counts += np.bincount(idx[~is_junk], minlength=vocab_size)
        sep_roll = rng.random(n)
        seps = np.where(sep_roll < 0.08, "\n", " ").astype(object)
        seps = np.where(sep_roll > 0.995, "  \t", seps)
        seps = np.where((sep_roll > 0.08) & (sep_roll < 0.085), "\r\n\n", seps)
        text = "".join((tok + seps).tolist())
        if f == 0:
            text = BOM + text
        path = os.path.join(out_dir, f"book{f:02d}.txt")
        with open(path, "w", encoding="utf-8", newline="") as fh:
            fh.write(text)
        paths.append(path)
        total_bytes += os.path.getsize(path)

    present = np.flatnonzero(counts)
    pairs = sorted((vocab[i], int(counts[i])) for i in present)
    truth = Truth(
        total_words=int(counts.sum()),
        unique_words=len(pairs),
        digest=lines_digest(f"{w}: {c}" for w, c in pairs),
    )
    return paths, total_bytes, truth


_RANK_LINE = re.compile(r"^\[(\d+)\] (.*): (\d+)$")


def check_output(lines: list[str], header_file: str, truth: Truth) -> list[str]:
    """Problems with a ranked output file (empty list = correct): the
    ``Filename:`` header, the ``Unique words found:`` line, and every
    ``[i] word: count`` line (dense 0-based ranks, sorted words, and the
    digest / totals recorded when the corpus was made)."""
    problems: list[str] = []
    if len(lines) < 2:
        return [f"output has {len(lines)} lines"]
    if lines[0] != f"Filename: {header_file}":
        problems.append(f"header line is {lines[0]!r}")
    if lines[1] != f"Unique words found: {truth.unique_words}":
        problems.append(f"unique line is {lines[1]!r}, want {truth.unique_words}")
    body = lines[2:]
    if len(body) != truth.unique_words:
        problems.append(f"{len(body)} ranked lines, want {truth.unique_words}")
    h = hashlib.sha256()
    total, prev = 0, None
    for i, line in enumerate(body):
        m = _RANK_LINE.match(line)
        if m is None or int(m.group(1)) != i:
            problems.append(f"ranked line {i} is {line!r}")
            break
        word, cnt = m.group(2), int(m.group(3))
        if prev is not None and word.encode() <= prev.encode():
            problems.append(f"line {i}: {word!r} not after {prev!r}")
            break
        prev = word
        total += cnt
        h.update(f"{word}: {cnt}\n".encode("utf-8"))
    else:
        if total != truth.total_words:
            problems.append(f"counts sum to {total}, want {truth.total_words}")
        if h.hexdigest() != truth.digest:
            problems.append("digest of ranked lines differs from ground truth")
    return problems
