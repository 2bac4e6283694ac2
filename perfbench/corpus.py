"""Seeded corpus that looks like real text, with planted duplicates.

Words come from a vocabulary of ~50k pseudo-words drawn with Zipf(1.1)
frequencies, so shingle universes are wide (the array regime of the
dedup operators) and rare shingles are rare. Two kinds of pairs are
planted, and their ground truth is kept beside the corpus:

- ``near``: a copy of a base document with 1-4 words replaced;
- ``wrap``: a base document wrapped in boilerplate header and footer
  lines, so the base is nearly contained in the copy.

``write_corpus`` is deterministic: the same seed gives byte-identical
parquet and truth files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_000
ZIPF_S = 1.1
SHINGLE_K = 7
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocabulary(rng: np.random.Generator) -> list[str]:
    words: dict[str, None] = {}
    while len(words) < VOCAB:
        lengths = rng.integers(2, 11, size=VOCAB)
        letters = LETTERS[rng.integers(0, 26, size=int(lengths.sum()))]
        flat = "".join(letters)
        ends = np.cumsum(lengths)
        for end, n in zip(ends, lengths):
            words.setdefault(flat[end - n:end])
            if len(words) == VOCAB:
                break
    return list(words)


class _Sampler:
    def __init__(self, rng: np.random.Generator, vocab: list[str]) -> None:
        weights = 1.0 / np.arange(1, len(vocab) + 1) ** ZIPF_S
        self.cdf = np.cumsum(weights / weights.sum())
        self.rng = rng
        self.vocab = vocab

    def words(self, n: int) -> list[str]:
        ranks = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return [self.vocab[min(r, len(self.vocab) - 1)] for r in ranks]


def shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    """Distinct k-char shingles of the normalized text (lower-case,
    whitespace collapsed, trimmed) — the sets the dedup operators
    compare."""
    t = " ".join(text.lower().split())
    return {t[i:i + k] for i in range(len(t) - k + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def containment(a: set[str], b: set[str]) -> float:
    """Share of ``a``'s shingles found in ``b``."""
    return len(a & b) / len(a) if a else 0.0


def generate(seed: int, n_docs: int) -> tuple[list[tuple[int, str]], list[dict]]:
    """Return ``(docs, planted)``: ``docs`` is ``[(doc_id, text)]`` and
    ``planted`` lists each planted pair as ``{"a", "b", "kind"}``, with
    ``a`` the base document."""
    rng = np.random.default_rng(seed)
    sampler = _Sampler(rng, _vocabulary(rng))
    n_near = n_docs // 10
    n_wrap = n_docs // 20
    n_base = n_docs - n_near - n_wrap
    # lengths are a fixed spread in seeded order, so every seed's corpus
    # holds the same number of words
    lengths = rng.permutation(np.linspace(40, 120, n_base).round().astype(int))
    texts = [sampler.words(int(n)) for n in lengths]
    boiler = [sampler.words(8) for _ in range(6)]
    pairs = []
    sources = rng.choice(n_base, size=n_near + n_wrap, replace=False)
    for j, src in enumerate(sources):
        src = int(src)
        if j < n_near:
            copy = list(texts[src])
            for pos in rng.choice(len(copy), size=1 + j % 4, replace=False):
                copy[int(pos)] = sampler.words(1)[0]
            kind = "near"
        else:
            head, foot = rng.choice(len(boiler), size=2, replace=False)
            copy = boiler[int(head)] + texts[src] + boiler[int(foot)]
            kind = "wrap"
        pairs.append((src, len(texts), kind))
        texts.append(copy)
    ids = rng.permutation(n_docs)
    docs = [(int(ids[i]), " ".join(words)) for i, words in enumerate(texts)]
    planted = [{"a": int(ids[a]), "b": int(ids[b]), "kind": kind} for a, b, kind in pairs]
    return docs, planted


def write_corpus(out_dir: str, seed: int, n_docs: int) -> tuple[str, str, list[tuple[int, str]]]:
    """Write ``docs.parquet`` and ``truth.json`` under ``out_dir``;
    returns both paths and the documents."""
    os.makedirs(out_dir, exist_ok=True)
    docs, planted = generate(seed, n_docs)
    table = pa.table({
        "doc_id": pa.array([d[0] for d in docs], type=pa.int64()),
        "text": pa.array([d[1] for d in docs], type=pa.string()),
    })
    docs_path = os.path.join(out_dir, "docs.parquet")
    pq.write_table(table, docs_path, compression="snappy")
    truth_path = os.path.join(out_dir, "truth.json")
    with open(truth_path, "w") as f:
        json.dump({"seed": seed, "n_docs": n_docs, "planted": planted}, f, sort_keys=True)
    return docs_path, truth_path, docs
